"""Relational core: projection, filter, joins, aggregation, set ops, sort.

SURVEY.md §2 B3–B16, B21–B26. The reference implements only a single row
filter (``R/DataFrameOperationR.R:135``) and projections (``:117-118``,
``:71-72``) — everything else here is the declared engine surface (EXT
provenance). All functions are declarative DataFrame ops: Catalyst does
pushdown/pruning/join selection; AQE fixes partition counts and skew at
runtime.

Scale posture (100 TB):
- joins against known dimension tables take an explicit ``broadcast`` hint
  (`join_star`), everything else trusts stats + AQE;
- aggregations rely on partial (map-side) aggregation — automatic for all
  ``groupBy().agg()`` of algebraic aggregates used here;
- top-k uses ``orderBy().limit(k)`` which Spark executes as per-partition
  TakeOrdered + driver merge of k rows — no global sort shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "project",
    "rename",
    "filter_rows",
    "join",
    "join_broadcast",
    "join_star",
    "prefiltered_join",
    "group_agg",
    "distinct_rows",
    "rollup_agg",
    "cube_agg",
    "having",
    "sort",
    "top_k",
    "union_all",
    "union_distinct",
    "intersect",
    "except_all",
    "profile",
    "observed",
    "fk_violations",
    "random_split",
    "pivot_agg",
    "unpivot",
    "hll_distinct_rollup",
    "join_nullsafe",
    "mad_outliers",
    "pareto_frontier_2d",
    "cumulative_share",
    "winsorize",
    "minmax_scale",
    "snapshot_diff",
    "apply_changes",
    "psi_drift",
    "psi_drift_categorical",
    "retraction_stream",
    "build_group_agg",
    "maintain_group_agg",
    "group_ols",
    "hll_overlap",
    "cohens_kappa",
    "rank_sum_test",
    "ks_test",
    "chi_square_test",
    "gain_chart",
    "auc_exact",
]


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """B3 — projection (reference A9: ``bcd$DataLocation`` style column
    extraction, ``R/DataFrameOperationR.R:136``). Column pruning reaches the
    parquet scan via Catalyst."""
    return df.select(*cols)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """B3 — positional/aliased rename (reference A4:
    ``colnames(data) <- tableschema``, ``R/DataFrameOperationR.R:44``)."""
    return df.withColumnsRenamed(mapping)


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """B4 — row filter (reference A8, the one genuine relational selection:
    ``which(Status == 2 & JobNodeID == nodeid & JobNodeID != "0")``,
    ``R/DataFrameOperationR.R:135``). Conjunctive/disjunctive/range/IN/LIKE
    predicates all arrive as one Column expression; Catalyst splits and
    pushes the parquet-eligible conjuncts down to the scan."""
    return df.filter(predicate)


def join(
    df: DataFrame,
    other: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """B5–B7, B9 — equi/outer/semi/anti/theta join. Catalyst picks
    broadcast-hash vs sort-merge vs shuffle-hash from stats; AQE rewrites
    skewed sort-merge joins at runtime. Theta joins (Column condition with
    range predicates) should carry at least one equi-conjunct to avoid a
    broadcast-nested-loop plan at scale."""
    return df.join(other, on=on, how=how)


def join_broadcast(
    df: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """B8 — explicit broadcast join: ship the small side to every executor,
    no shuffle of the big side. At 100 TB this is the difference between a
    map-side join and a full fact-table shuffle."""
    return df.join(F.broadcast(dim), on=on, how=how)


def join_star(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str | Sequence[str] | Column, bool]],
) -> DataFrame:
    """B10 — multi-way star join: chain the fact table through its
    dimensions. ``dims`` is (dim_df, on, broadcast?) — mark the genuinely
    small sides broadcast so the fact table is never shuffled for them."""
    out = fact
    for dim, on, bcast in dims:
        out = out.join(F.broadcast(dim) if bcast else dim, on=on)
    return out


def prefiltered_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    right_keys: str | Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """B5 at scale — semi-join-reduced join (a hand-rolled runtime filter,
    the Bloom/DPP idea made explicit): broadcast the filtered dimension's
    DISTINCT join keys and LEFT-SEMI-filter the fact table BEFORE the main
    join, so the fact rows that cannot match never enter the join's
    exchange. With a selective dimension predicate this shrinks the fact
    shuffle by the predicate's selectivity — at 100 TB that is the
    difference between shuffling the whole fact table and shuffling only
    the matching slice. The key set is an aggregated projection of the
    dimension (bounded by its distinct keys), explicitly broadcast.

    Only result-identical for row-REDUCING joins (``inner``/``left_semi``
    — the pre-filter drops exactly the rows those joins drop anyway);
    row-preserving joins (outer) would lose their unmatched rows, so they
    are rejected.

    ``on`` names the fact-side key columns; ``right_keys`` the dim-side
    names when they differ (TPC-H style ``o_custkey``/``c_custkey``).

    Relationship to Catalyst's automatic runtime filter: Spark 4 inserts
    a bloom-filter reduction for the same pattern on its own
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default)
    — but only when its cost model fires (creation side ≤ 10 MB,
    application-side scan ≥ 10 GB by default), and with false positives.
    This operator is the guaranteed, exact-key-set form for joins the
    caller KNOWS are selectivity-dominated; the automatic filter remains
    a free backstop everywhere else.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"prefiltered_join: how={how!r} is row-preserving; the semi "
            "reduction is only result-identical for inner/left_semi"
        )
    left = [on] if isinstance(on, str) else list(on)
    right = (
        left
        if right_keys is None
        else [right_keys] if isinstance(right_keys, str) else list(right_keys)
    )
    key_set = dim.select(
        *[F.col(r).alias(l) for l, r in zip(left, right)]
    ).distinct()
    reduced = fact.join(F.broadcast(key_set), on=left, how="left_semi")
    if right == left:
        return reduced.join(dim, on=left, how=how)
    cond = None
    for l, r in zip(left, right):
        c = reduced[l] == dim[r]
        cond = c if cond is None else (cond & c)
    return reduced.join(dim, on=cond, how=how)


def group_agg(
    df: DataFrame,
    keys: Sequence[str | Column],
    aggs: Sequence[Column],
) -> DataFrame:
    """B11 — hash aggregation with map-side partial aggregation. Every agg
    Column must be aliased by the caller (oracle-name contract)."""
    return df.groupBy(*keys).agg(*aggs)


def distinct_rows(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """B12 — distinct (full row or on a column subset)."""
    return (df.select(*cols) if cols else df).distinct()


def rollup_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """B13 — hierarchical grouping sets (rollup)."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """B13 — all grouping-set combinations (cube)."""
    return df.cube(*keys).agg(*aggs)


def having(
    df: DataFrame,
    keys: Sequence[str | Column],
    aggs: Sequence[Column],
    predicate: Column,
) -> DataFrame:
    """B14 — post-aggregation filter (HAVING)."""
    return df.groupBy(*keys).agg(*aggs).filter(predicate)


def sort(df: DataFrame, *order: Column | str) -> DataFrame:
    """B15 — global sort (range-partitioned exchange + per-partition sort)."""
    return df.orderBy(*order)


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """B16 — top-k (reference A10 generalization: positional last-pick at
    ``R/DataFrameOperationR.R:136-140`` becomes order-by + limit). Spark
    plans this as TakeOrderedAndProject: per-partition heap of k, driver
    merge — O(k) memory, no global sort shuffle. Callers should include a
    unique tiebreaker column for determinism."""
    return df.orderBy(*order).limit(k)


def union_all(*dfs: DataFrame) -> DataFrame:
    """B21 — UNION ALL (reference A5's *intended* semantics: concatenate all
    part-files; the reference's accumulator bug kept only the last part,
    ``R/DataFrameOperationR.R:36-45`` — we implement the intent)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """B21 — UNION (distinct)."""
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    """B21 — INTERSECT (distinct semantics)."""
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame, distinct: bool = True) -> DataFrame:
    """B21 — EXCEPT / EXCEPT ALL."""
    return a.exceptAll(b) if not distinct else a.subtract(b)


def profile(
    df: DataFrame,
    cols: Sequence[str],
    rsd: float = 0.01,
) -> DataFrame:
    """B28 adjunct — per-column data profile: nulls, distinct count, min,
    max (as strings for heterogeneous columns). One pass over the data;
    all aggregates map-side-combined. The first thing a training-data
    pipeline runs on a new source.

    Distinct counts are ``approx_count_distinct`` (HLL++, relative std
    dev ``rsd``): N exact ``countDistinct`` in a single agg triggers
    Catalyst's ``Expand`` — the input is replicated once per distinct
    aggregate, a severalfold scan amplification that is unacceptable at
    100 TB for a diagnostic."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.approx_count_distinct(c, rsd).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.count("*").alias(f"{c}__rows"),
        ]
    wide = df.agg(*aggs)
    # One output row per column: unpivot the single wide row.
    stack_args = []
    for c in cols:
        stack_args.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
        )
    return wide.select(F.explode(F.array(*stack_args)).alias("p")).select("p.*")


def fk_violations(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
) -> DataFrame:
    """Referential-integrity check: child rows whose ``fk`` has no match in
    ``parent.pk`` — a left-anti join (B7 applied to validation). At scale
    the parent key column is usually broadcastable after projection."""
    return child.join(
        parent.select(F.col(pk)).distinct(),
        on=child[fk] == F.col(pk),
        how="left_anti",
    )


def validate_expectations(
    df: DataFrame,
    rules: "dict[str, Column]",
) -> DataFrame:
    """B28 — data-quality gate: count violations of each named expectation
    in ONE scan (every rule becomes a conditional-sum column of the same
    aggregate — no per-rule passes, no shuffle beyond the single global
    agg). A rule is a boolean Column that is TRUE when the row PASSES;
    NULL counts as a violation (ANSI three-valued logic would otherwise
    let null-laden columns pass vacuously).

    Returns (rule, n_violations) — one row per rule, violation count 0
    when clean. Compose with ``observed()`` to assert expectations inline
    on a production pipeline without a second job.
    """
    names = list(rules)
    if not names:
        raise ValueError("validate_expectations requires at least one rule")
    # Positional aliases (_r0, _r1, ...) so rule names may contain spaces/
    # dots/backticks without breaking column resolution; the display name
    # rides along as a literal. coalesce(sum, 0): an EMPTY input is clean
    # (0 violations per rule), not NULL — the gate contract.
    aggs = [
        F.coalesce(
            F.sum(F.when(F.coalesce(rules[n], F.lit(False)), 0).otherwise(1)),
            F.lit(0),
        )
        .cast("long")
        .alias(f"_r{i}")
        for i, n in enumerate(names)
    ]
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("rule"),
                        F.col(f"_r{i}").alias("n_violations"),
                    )
                    for i, n in enumerate(names)
                ]
            )
        ).alias("e")
    )
    return stacked.select("e.rule", "e.n_violations")


def quarantine(
    df: DataFrame,
    rules: "dict[str, Column]",
    reasons_col: str = "reasons",
) -> "tuple[DataFrame, DataFrame]":
    """B28 — row-level quality routing (the dead-letter half of
    :func:`validate_expectations`): split the input into (clean,
    quarantined) where a row is quarantined when it fails ANY rule, and
    each quarantined row carries WHICH rules it failed — the forensic
    record a production ingest keeps instead of silently dropping rows.

    Same rule contract as the aggregate gate: a rule is a boolean Column
    that is TRUE when the row PASSES; NULL counts as a violation.
    ``reasons_col`` on the quarantined side is the comma-joined list of
    failed rule names in SORTED-NAME order (deterministic regardless of
    dict insertion order or plan shape).

    Plan shape: one projection computing the failed-rule array, two
    narrow filters over it — no shuffle, no second scan; both outputs
    share the one scan's pushdown/pruning. At 100 TB the quarantined
    side is typically written to a separate partition/table and the
    clean side flows on — both are lazy here, so the caller pays only
    for what it materializes.
    """
    names = sorted(rules)
    if not names:
        raise ValueError("quarantine requires at least one rule")
    failed = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.coalesce(rules[n], F.lit(False)), F.lit(n)
                )
                for n in names
            ]
        )
    )
    tagged = df.withColumn("_failed", failed)
    clean = tagged.filter(F.size("_failed") == 0).drop("_failed")
    bad = (
        tagged.filter(F.size("_failed") > 0)
        .withColumn(reasons_col, F.concat_ws(",", F.col("_failed")))
        .drop("_failed")
    )
    return clean, bad


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 8,
    max_tracked: int = 10000,
) -> DataFrame:
    """B12/B34 — approximate heavy hitters via ``approx_top_k`` (a
    Misra-Gries-style summary): the k most frequent values of ``col`` with
    their counts, in one pass with bounded memory and MERGEABLE partial
    sketches — the only top-k-by-frequency form that scales (an exact
    top-k needs a full group-by of the whole key space first).

    When the true cardinality is <= ``max_tracked`` the summary is exact
    (which is what makes the driver oracle a strict equality); above it,
    counts carry the classic <= n/max_tracked overestimation bound.
    Returns (item, cnt) — compare as a set; pick k at a clean frequency
    boundary when exactness matters.
    """
    safe = col.replace("`", "``")
    r = df.agg(
        F.expr(f"approx_top_k(`{safe}`, {int(k)}, {int(max_tracked)})").alias("tk")
    )
    return r.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").cast("long").alias("cnt")
    )


def observed(df: DataFrame, metrics: Sequence[Column]):
    """Attach observable data-quality metrics to a DataFrame.

    The metrics are computed as a side-effect of whatever action later
    runs the plan — counters for free, with NO extra pass over the data
    (contrast with ``profile``, which is its own job). Returns
    ``(df, observation)``; after any action on ``df``, ``observation.get``
    yields the metric dict. At 100 TB this is how a pipeline asserts
    null-rates/row-counts on every run without doubling its I/O."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *metrics), obs


def random_split(
    df: DataFrame, weights: Sequence[float], seed: int = 42
) -> list[DataFrame]:
    """B22 — train/test split (reference: upstream SplitData node outputs
    loaded as ``{NodeCaption}_{i}`` entries, ``R/DataFrameOperationR.R:144-168``).
    Seeded for reproducibility; per-partition Bernoulli sampling, no shuffle."""
    return df.randomSplit(list(weights), seed=seed)


def pivot_agg(
    df: DataFrame,
    key: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    agg: Column,
) -> DataFrame:
    """B11 adjunct — pivot with an explicit value list (never let Spark scan
    for distinct pivot values at 100 TB; pass them)."""
    return df.groupBy(key).pivot(pivot_col, list(pivot_values)).agg(agg)


def unpivot(
    df: DataFrame,
    ids: Sequence[str],
    values: Sequence[str],
    var_col: str = "metric",
    value_col: str = "value",
) -> DataFrame:
    """B11 adjunct — unpivot/melt: widen-to-long, the inverse of
    :func:`pivot_agg`. Wraps the native ``DataFrame.unpivot`` (Spark's
    ``Expand`` physical node: each input row fans out to len(values) rows
    in the same task — row-local, no shuffle, no UDF). The standard step
    for feeding a metrics-per-column aggregate into a long-format sink or
    chart table."""
    return df.unpivot(
        [F.col(c) for c in ids],
        [F.col(c) for c in values],
        var_col,
        value_col,
    )


def hll_distinct_rollup(
    df: DataFrame,
    group_col: str,
    key_col: str,
    lg_config_k: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """B12 scale path — MERGEABLE distinct-count rollup via Datasketches
    HLL: per-group binary sketches (``hll_sketch_agg``), then a global
    estimate by UNIONING the sketches (``hll_union_agg``) — never
    re-scanning the raw keys. This is the continuous-aggregate /
    hypertable-rollup shape: at 100 TB you persist the per-partition
    sketch column (a few KB per group regardless of cardinality) and
    answer "distinct across any group subset" by merging sketches at
    query time; ``approx_count_distinct`` alone gives the estimate but
    not a reusable/mergeable artifact.

    Returns (per_group, merged): per_group = (group_col, sketch,
    estimate); merged = 1-row (estimate over ALL groups via sketch
    union). Both lazy — no driver-side materialization.
    """
    sk = df.groupBy(group_col).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_config_k)).alias("sketch")
    )
    per_group = sk.select(
        group_col,
        "sketch",
        F.hll_sketch_estimate("sketch").alias("estimate"),
    )
    merged = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate")
    )
    return per_group, merged


def join_nullsafe(
    df: DataFrame,
    other: DataFrame,
    left_key: str | Column,
    right_key: str | Column,
    how: str = "inner",
) -> DataFrame:
    """B5 variant — null-safe equi-join (``<=>`` / SQL
    ``IS NOT DISTINCT FROM``): NULL keys match each other instead of
    matching nothing, the semantics needed when NULL is a real category
    (unknown region, missing attribution bucket) rather than absent data.

    Catalyst treats ``<=>`` as an equi-conjunct, so this still plans as a
    hash join (broadcast or sort-merge), NOT a nested loop. Scale caveat:
    all NULLs land in ONE join partition — a null-heavy key behaves like
    any other hot key, so coalesce NULL to salted sentinels (or pre-split
    the NULL slice with a broadcast join) when the NULL fraction is large.
    """
    lk = F.col(left_key) if isinstance(left_key, str) else left_key
    rk = F.col(right_key) if isinstance(right_key, str) else right_key
    return df.join(other, on=lk.eqNullSafe(rk), how=how)


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
    consistency: float = 1.4826,
) -> DataFrame:
    """B28/north-star — robust per-group outlier detection via median
    absolute deviation: flag rows where
    ``|x - median| > k * 1.4826 * MAD``. Median/MAD resist the very
    outliers being hunted (mean/stddev get dragged by them), which is why
    MAD is the standard robust screen for anomalous document lengths,
    latencies, or prices.

    Two exact-percentile aggregations (median, then median of absolute
    deviations — MAD is order-dependent so it cannot be one pass), each a
    shuffle on ``group_col``, with per-group stats broadcast back onto the
    rows. At 100 TB swap ``percentile`` for ``approx_percentile`` with an
    error bound below the decision threshold; group stats stay tiny either
    way.

    Returns input rows + (group_median, group_mad, is_outlier).
    """
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("group_median")
    )
    dev = df.join(F.broadcast(med), on=group_col).withColumn(
        "_absdev", F.abs(v - F.col("group_median"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(_absdev, 0.5)").alias("group_mad"),
        F.first("group_median").alias("group_median"),
    )
    return df.join(F.broadcast(mad), on=group_col).withColumn(
        "is_outlier",
        F.abs(v - F.col("group_median"))
        > F.lit(float(k) * float(consistency)) * F.col("group_mad"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """Skyline query (2-D Pareto frontier, minimize both): keep rows not
    dominated by any other row — ``y`` dominates ``x`` when it is <= on
    both attributes and strictly < on at least one. The classic
    "cheapest-AND-smallest" multi-criteria shortlist. ``x_col`` must be
    numeric (bucketing needs a range); ties on both attributes are
    co-frontier, rows with NULL in either attribute are dropped.

    The naive form is a quadratic NOT-EXISTS self-join; in 2-D it
    collapses to prefix minima over x: a row is dominated iff min(y) over
    strictly-smaller x is <= its y, or some same-x row has strictly
    smaller y. For continuous x, distinct-x ~ |rows|, so a single global
    running-min window would be a one-task sort of the data (ADVICE r5).
    Instead the prefix minimum is computed at TWO levels, both parallel:

    1. per-x min(y) aggregate (map-side combined, one shuffle);
    2. equi-width bucket id over [min(x), max(x)] (range from a 1-row
       scalar aggregate, broadcast; bucket assignment row-local);
    3. cross-bucket prefix min over the ≤``buckets``-row per-bucket table
       — the only un-partitioned window, CONSTANT-bounded by ``buckets``
       regardless of data size;
    4. within-bucket running min over x, PARTITIONED by bucket — the
       data-sized window parallelizes across buckets;
    5. prefix-min(x) = least(cross-bucket prefix, within-bucket prefix)
       — ``least`` skips NULLs, so only the globally smallest x has a
       NULL prefix, exactly the unbucketed semantics;
    then one equi-join back on x. No self-join of the data, no cross
    product, no data-sized single-task sort.

    Cost note: the per-x aggregate subtree is consumed by three
    branches and Catalyst re-plans it per branch (exchange reuse does
    not fire across the differing partial-agg shapes) — so per_x is
    lazily localCheckpoint'ed: the branches share one |distinct x|-row
    materialization and the base is scanned exactly twice (per-x build
    + final join back). The single global running-min window this shape
    replaces was a one-task sort of the data (cost accounting:
    SCALE.md §13b).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as _T

    x_type = df.schema[x_col].dataType
    if not isinstance(x_type, _T.NumericType):
        raise TypeError(
            f"pareto_frontier_2d needs a numeric x_col for range "
            f"bucketing; {x_col!r} is {x_type.simpleString()} — cast it "
            f"(dates: unix_date/unix_micros) before calling"
        )
    x, y = F.col(x_col), F.col(y_col)
    clean = df.filter(x.isNotNull() & y.isNotNull())
    per_x = clean.groupBy(x_col).agg(F.min(y_col).alias("_min_y_at_x"))
    # The per-x subtree feeds THREE consumers (range scalar, per-bucket
    # minima, the stats join) and Catalyst re-plans it per branch —
    # without this the base is scanned ~3x (VERDICT r6 #3).
    # localCheckpoint materializes the ALREADY REDUCED |distinct x|-row
    # table once to executor-local storage and truncates lineage, so
    # every branch reads the materialization; the base is now scanned
    # exactly twice (per-x build + final join), the minimum without
    # caching the raw data. Lazy (eager=False): the first consuming job
    # populates it, so plan-only paths (explain, query construction)
    # never pay a materialization barrier. Executor-local blocks are
    # released by the ContextCleaner when the plan is GC'd — no
    # CacheManager entry pinned for the session's lifetime.
    per_x = per_x.localCheckpoint(eager=False)
    rng = per_x.agg(
        F.min(x_col).cast("double").alias("_lo"),
        F.max(x_col).cast("double").alias("_hi"),
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(buckets))
    bkt = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(buckets - 1),
            F.floor((x.cast("double") - F.col("_lo")) / width).cast("int"),
        )
    )
    bucketed = per_x.crossJoin(F.broadcast(rng)).withColumn("_bkt", bkt)
    per_bkt = bucketed.groupBy("_bkt").agg(
        F.min("_min_y_at_x").alias("_bkt_min")
    )
    w_bkt = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bkt_prefix = per_bkt.select(
        "_bkt", F.min("_bkt_min").over(w_bkt).alias("_min_before_bkt")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stats = (
        bucketed.join(F.broadcast(bkt_prefix), on="_bkt")
        .withColumn("_min_in_bkt_before", F.min("_min_y_at_x").over(w_in))
        .withColumn(
            "_min_y_before",
            F.least(F.col("_min_before_bkt"), F.col("_min_in_bkt_before")),
        )
        .select(x_col, "_min_y_at_x", "_min_y_before")
    )
    joined = clean.join(stats, on=x_col)
    dominated = (
        F.col("_min_y_before").isNotNull() & (F.col("_min_y_before") <= y)
    ) | (F.col("_min_y_at_x") < y)
    return joined.filter(~dominated).drop("_min_y_at_x", "_min_y_before")


def cumulative_share(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    buckets: int = 1024,
    cum_col: str = "cum",
    total_col: str = "total",
) -> DataFrame:
    """Inclusive running sum of ``value_col`` in (value DESC, tiebreak ASC)
    order, plus the grand total — the Pareto/ABC "top X% of mass"
    primitive, WITHOUT the single-task global-sort window the naive
    ``sum() OVER (ORDER BY value DESC)`` plans as (VERDICT r6 #2: a
    dimension-sized input still scales linearly with the corpus).

    The same skew-proof two-level prefix-sum shape as
    :func:`pareto_frontier_2d` / ``sampling.token_budget_mix``:

    1. 1-row (min, max) scalar aggregate over ``value_col``, broadcast;
    2. equi-width DESCENDING bucket id — row-local, equal values always
       share a bucket, so bucket-major (value DESC, tiebreak) order
       equals the global order;
    3. per-bucket sums (map-side combined) → cross-bucket exclusive
       prefix + grand total on the ≤``buckets``-row table — the only
       un-partitioned window, CONSTANT-bounded by ``buckets``;
    4. within-bucket running sum PARTITIONED by bucket — the data-sized
       window parallelizes across buckets;
    5. ``cum = cross-bucket prefix + within-bucket running sum``.

    Exactness across engines: the bucketed sum associates differently
    from a sequential window scan, so for bit-identical cross-engine
    results feed an association-free ``value_col`` type (DECIMAL sums
    are exact in any order; DOUBLE sums are not — the b11 money policy).
    Rows with a NULL ``value_col`` are dropped. ``tiebreak_col`` must be
    unique and non-NULL (the module's tiebreak convention): duplicate
    sort keys make the inclusive running sum order-nondeterministic
    within the tie, and a NULL tiebreak sorts first engine-dependently.
    """
    from pyspark.sql import Window

    v = F.col(value_col)
    clean = df.filter(v.isNotNull())
    rng = clean.agg(
        F.min(value_col).cast("double").alias("_lo"),
        F.max(value_col).cast("double").alias("_hi"),
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(buckets))
    bkt = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(buckets - 1),
            F.floor((F.col("_hi") - v.cast("double")) / width).cast("int"),
        )
    )
    bucketed = clean.crossJoin(F.broadcast(rng)).withColumn("_bkt", bkt)
    per_bkt = bucketed.groupBy("_bkt").agg(F.sum(value_col).alias("_tok"))
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    w_t = Window.partitionBy()  # over the <=buckets-row table only
    prefix = per_bkt.select(
        "_bkt",
        F.coalesce(F.sum("_tok").over(w_b), F.lit(0)).alias("_before"),
        F.sum("_tok").over(w_t).alias(total_col),
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(v.desc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.join(F.broadcast(prefix), on="_bkt")
        .withColumn(cum_col, F.col("_before") + F.sum(value_col).over(w_in))
        .drop("_bkt", "_lo", "_hi", "_before")
    )


def minmax_scale(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "scaled",
    decimals: int | None = None,
) -> DataFrame:
    """B25 — per-group min-max feature scaling to [0, 1], the declarative
    JVM-side normalizer beside the Python grouped-map z-score: per-key
    extremes are one map-side-combined aggregate joined back onto the rows
    (broadcast — the stats table is |groups|-sized), so the whole rescale
    is agg + broadcast join + row-local map. No Python, no window sort.

    NULL contract (ADVICE r5/r6): a NULL observation stays NULL — the
    ``value IS NULL`` guard fires BEFORE the constant-group branch, so
    missing data is never fabricated into the 0.5 midpoint. Constant
    groups (``min == max``) pin non-NULL values to 0.5, avoiding 0/0.
    A NULL ``group_col`` is a real group: the stats join is null-safe
    (``<=>``), so NULL-group rows are scaled against the NULL group's
    extremes instead of silently vanishing.
    The scaled value is EXACT by default; pass ``decimals`` for display
    rounding (query-layer concern — the oracle-matched query rounds to 4,
    a feature pipeline should not).
    """
    v = F.col(value_col)
    stats = df.groupBy(group_col).agg(
        F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
    )
    # eqNullSafe on the group key (ADVICE r6): groupBy emits a NULL-group
    # stats row, and a plain equi-join would silently drop every
    # NULL-group input row — the module's null-safe key contract
    # (maintain_group_agg, snapshot_diff) applies here too.
    stats = stats.withColumnRenamed(group_col, "_grp")
    j = df.join(
        F.broadcast(stats), F.col(group_col).eqNullSafe(F.col("_grp"))
    ).drop("_grp")
    ratio = (v - F.col("_lo")) / (F.col("_hi") - F.col("_lo"))
    if decimals is not None:
        ratio = F.round(ratio, decimals)
    scaled = (
        F.when(v.isNull(), F.lit(None).cast("double"))
        .when(F.col("_hi") == F.col("_lo"), F.lit(0.5))
        .otherwise(ratio)
    )
    return j.withColumn(out_col, scaled).drop("_lo", "_hi")


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """B25/B28 — per-group winsorization: clip ``value_col`` to its group's
    [lower, upper] exact percentiles. The standard tail-taming transform
    before means/regressions on heavy-tailed data (prices, latencies,
    document lengths) — unlike :func:`mad_outliers` it KEEPS the rows,
    bounding their influence instead of flagging them.

    One exact-percentile aggregate per group (map-side-combined sketch
    state, single shuffle on ``group_col``) broadcast back onto the rows —
    the same two-step shape as ``mad_outliers`` minus the second pass. At
    100 TB swap ``percentile`` for ``approx_percentile`` when the clip
    bounds tolerate sketch error. Adds (p_lo, p_hi, winsorized).
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    v = F.col(value_col).cast("double")
    # ONE percentile aggregate with both cut points: exact percentile
    # buffers every group value, so two separate calls double the buffer
    # and the per-group sort (measured ~2x on the 600k-row bench entry).
    both = F.expr(
        f"percentile({value_col}, array({float(lower)}, {float(upper)}))"
    )
    stats = df.groupBy(group_col).agg(both.alias("_p")).select(
        group_col,
        F.col("_p")[0].alias("p_lo"),
        F.col("_p")[1].alias("p_hi"),
    )
    # Guard NULL values explicitly: Spark's greatest/least SKIP null
    # arguments, so an unguarded clamp would fabricate p_lo for missing
    # data; a NULL observation must stay NULL (and fall out of avg()).
    clipped = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi"))
    )
    return df.join(F.broadcast(stats), on=group_col).withColumn(
        "winsorized", clipped
    )


def _keyed_full_outer(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Shared CDC scaffold: null-safe full-outer join of two keyed
    snapshots with attribute structs and presence markers — consumed by
    :func:`snapshot_diff` and :func:`retraction_stream` so the key
    aliasing / struct packing / eqNullSafe fold exists exactly once.
    Columns: _ok_<k>/_nk_<k>, _oattrs/_nattrs, _in_old/_in_new."""
    o = old.select(
        *[F.col(c).alias(f"_ok_{c}") for c in key_cols],
        F.struct(*[F.col(c) for c in attr_cols]).alias("_oattrs"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"_nk_{c}") for c in key_cols],
        F.struct(*[F.col(c) for c in attr_cols]).alias("_nattrs"),
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"_ok_{c}").eqNullSafe(F.col(f"_nk_{c}"))
        cond = eq if cond is None else cond & eq
    return o.join(n, on=cond, how="full_outer")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """CDC-style keyed snapshot diff: classify every key as ``inserted``
    (new only), ``deleted`` (old only), ``changed`` (present in both,
    any attribute differs null-safely), or ``unchanged``. The batch
    change-detection step feeding incremental sync / SCD2 loads
    (:func:`~ddataframeoperation_spark.operators.windows.scd2_history`
    consumes the change LOG; this derives one from two snapshots).

    One full-outer equi-join on the key columns — the canonical big-big
    shuffle join; attribute comparison is a row-local null-safe struct
    equality, so the whole diff is join + map at any scale. Keys must be
    unique per snapshot (enforce upstream or dedup first).

    Returns (keys..., change_type).
    """
    j = _keyed_full_outer(old, new, key_cols, attr_cols)
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("inserted"))
        .when(F.col("_in_new").isNull(), F.lit("deleted"))
        .when(~F.col("_oattrs").eqNullSafe(F.col("_nattrs")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    keys = [
        F.coalesce(F.col(f"_nk_{c}"), F.col(f"_ok_{c}")).alias(c)
        for c in key_cols
    ]
    return j.select(*keys, change.alias("change_type"))


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    op_col: str = "change_type",
) -> DataFrame:
    """CDC apply / batch upsert — the INVERSE of :func:`snapshot_diff`:
    merge a keyed change set into a base snapshot, producing the next
    snapshot. ``changes`` carries the key columns, the NEW attribute
    values, and an operation column with ``inserted``/``changed``
    (or the synonyms ``insert``/``update``/``upsert``) and ``deleted``
    (or ``delete``). Contract (pinned by a roundtrip test):
    ``apply_changes(old, diff_with_attrs(old, new)) == new``.

    Plan: one left-anti equi-join removes every changed/deleted key from
    the base, then the surviving change rows (op != delete) union in —
    join + union, the canonical MERGE INTO shape without requiring a
    transactional table format; at 100 TB the base side shuffles once on
    the (null-safe) key. Note the eqNullSafe condition compiles to
    coalesce/isnull composite join keys, so bucketing on the raw key
    does NOT eliminate this exchange — if keys are known non-NULL,
    bucketed storage plus a plain equi-join variant would; NULL-key
    correctness is the default here because snapshot_diff treats NULL
    as a real key.
    Keys must be unique per input (same precondition as snapshot_diff);
    unknown or NULL operation values fail the job (in-plan
    ``raise_error``, so validation costs zero extra passes — an eager
    pre-check would execute the whole changes lineage twice, which at
    100 TB doubles the dominant diff cost) rather than silently dropping
    or deleting rows.
    """
    ops = F.col(op_col)
    known = ("inserted", "changed", "insert", "update", "upsert", "deleted", "delete")
    checked = F.when(
        ops.isNull() | ~ops.isin(*known),
        F.raise_error(
            F.concat(
                F.lit(f"unknown {op_col} value: "),
                F.coalesce(ops, F.lit("NULL")),
            )
        ),
    ).otherwise(ops)
    keyed = changes.select(
        *[F.col(c) for c in key_cols],
        *[F.col(c) for c in attr_cols],
        checked.isin("deleted", "delete").alias("_is_delete"),
    )
    # Null-safe anti-join condition: snapshot_diff treats a NULL key as a
    # real key (eqNullSafe), so apply must too — a plain equi-anti-join
    # never matches NULL keys, leaving the base's NULL-key row in place
    # while the incoming row unions in (a silent duplicate).
    ck = keyed.select(*[F.col(c).alias(f"_ck_{c}") for c in key_cols])
    cond = None
    for c in key_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_ck_{c}"))
        cond = eq if cond is None else cond & eq
    kept = base.join(ck, on=cond, how="left_anti").select(*key_cols, *attr_cols)
    incoming = keyed.filter(~F.col("_is_delete")).select(*key_cols, *attr_cols)
    return kept.unionByName(incoming)


def _psi_terms(j: DataFrame, key_col: str, eps: float) -> DataFrame:
    """Shared PSI tail: given a (key, n_ref, n_cur) full-outer count
    table (NULL counts allowed), coalesce missing sides to 0, attach the
    grand totals by broadcast, floor zero proportions at ``eps``, and
    emit the per-key psi_term — the eps convention and term formula live
    exactly once for the numeric and categorical forms."""
    j = j.select(
        key_col,
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = j.agg(F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc"))
    # try_divide: an EMPTY side makes its grand total 0, and under ANSI
    # (Spark 4 default) plain division would kill the job; the NULL
    # proportion then floors to eps via greatest (which skips NULLs) —
    # every key on the empty side reads "eps vs observed", the same
    # convention as a present-but-zero count.
    p_ref = F.greatest(
        F.try_divide(F.col("n_ref"), F.col("_tr")), F.lit(float(eps))
    )
    p_cur = F.greatest(
        F.try_divide(F.col("n_cur"), F.col("_tc")), F.lit(float(eps))
    )
    return j.crossJoin(F.broadcast(tot)).select(
        key_col,
        "n_ref",
        "n_cur",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of ``value_col`` — the standard drift gate for corpus /
    feature monitoring (rule of thumb: < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted). Buckets are REFERENCE equi-depth deciles, so the
    reference contributes ~1/buckets mass per bucket and the index
    measures where the current snapshot's mass moved.

    Plan: one exact-percentile aggregate on the reference (map-side
    combined, 1-row result) broadcast to both sides; bucket assignment is
    a row-local array fold (the percentile-cut-point shape — no global
    sort); two bucket-count aggregates over the constant-bounded bucket
    key; a broadcast-sized join of the two <=``buckets``-row count tables.
    Zero proportions are floored at ``eps`` (the conventional guard, or
    ln(p/q) diverges) — identically on any engine, so the operator is
    exactly oracle-able.

    Returns one row per bucket: (bucket, n_ref, n_cur, p_ref, p_cur,
    psi_term); ``sum(psi_term)`` is the index. NULL values are dropped
    from both sides (no distributional claim about missing data; compare
    null RATES separately via profile()).
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    fracs = ", ".join(str(i / buckets) for i in range(1, buckets))
    v = F.col(value_col)
    r = ref.filter(v.isNotNull()).select(v.cast("double").alias("_v"))
    c = cur.filter(v.isNotNull()).select(v.cast("double").alias("_v"))
    cuts = r.agg(F.expr(f"percentile(_v, array({fracs}))").alias("_c"))
    bucket = F.lit(1) + F.size(F.filter(F.col("_c"), lambda x: F.col("_v") > x))

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(cuts))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias(out))
        )

    j = counts(r, "n_ref").join(counts(c, "n_cur"), on="bucket", how="full_outer")
    return _psi_terms(j, "bucket", eps)


def psi_drift_categorical(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Categorical PSI — the :func:`psi_drift` formula over category
    proportions instead of percentile buckets: "did my source / language
    mixture shift between corpus snapshots?" is THE corpus-monitoring
    question this answers. Categories present in only one snapshot get
    the ``eps`` floor on the missing side (new or vanished sources are
    usually the drift that matters most).

    Plan: two map-side-combined count aggregates over the category key,
    one full-outer join of the two |categories|-row tables, row-local
    formula. NULL categories count as a real category (a NULL-source
    influx IS drift), labeled '(null)' in the output.
    """
    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                F.coalesce(F.col(cat_col).cast("string"), F.lit("(null)")).alias(
                    "category"
                )
            )
            .groupBy("category")
            .agg(F.count("*").alias(out))
        )

    j = counts(ref, "n_ref").join(
        counts(cur, "n_cur"), on="category", how="full_outer"
    )
    return _psi_terms(j, "category", eps)


def retraction_stream(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Signed row-delta between two keyed snapshots — the classic
    retraction stream: every deleted/changed key emits its OLD row with
    ``sign = -1``, every inserted/changed key its NEW row with
    ``sign = +1`` (an update is a retraction plus an assertion;
    unchanged keys emit nothing). The input
    :func:`maintain_group_agg` consumes to refresh a materialized
    aggregate incrementally. One full-outer equi-join on the keys (the
    shared :func:`_keyed_full_outer` scaffold) + row-local null-safe
    compare; output size is proportional to the CHANGE volume, not the
    snapshots.
    """
    j = _keyed_full_outer(old, new, key_cols, attr_cols).filter(
        F.col("_in_old").isNull()
        | F.col("_in_new").isNull()
        | ~F.col("_oattrs").eqNullSafe(F.col("_nattrs"))
    )
    keys_old = [F.col(f"_ok_{c}").alias(c) for c in key_cols]
    keys_new = [F.col(f"_nk_{c}").alias(c) for c in key_cols]
    retract = j.filter(F.col("_in_old").isNotNull()).select(
        *keys_old,
        *[F.col("_oattrs")[c].alias(c) for c in attr_cols],
        F.lit(-1).alias("sign"),
    )
    assert_ = j.filter(F.col("_in_new").isNotNull()).select(
        *keys_new,
        *[F.col("_nattrs")[c].alias(c) for c in attr_cols],
        F.lit(1).alias("sign"),
    )
    return retract.unionByName(assert_)


def build_group_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    count_col: str = "n_rows",
    sum_col: str = "sum_value",
) -> DataFrame:
    """Build the maintainable per-group aggregate state for
    :func:`maintain_group_agg`: (group, count, sum, ``_nv`` = count of
    NON-NULL values). ``_nv`` is what lets an incremental refresh
    reproduce SQL SUM's NULL semantics exactly when a group's last real
    value is retracted — a plain (count, sum) aggregate cannot recover
    it. Use this to create the initial state; refreshes carry ``_nv``
    through automatically."""
    return df.groupBy(group_col).agg(
        F.count("*").alias(count_col),
        F.sum(value_col).alias(sum_col),
        F.count(value_col).alias("_nv"),
    )


def maintain_group_agg(
    old_agg: DataFrame,
    retractions: DataFrame,
    group_col: str,
    value_col: str,
    count_col: str = "n_rows",
    sum_col: str = "sum_value",
) -> DataFrame:
    """Incremental materialized-aggregate refresh: given the PREVIOUS
    per-group (count, sum) aggregate and a signed
    :func:`retraction_stream`, produce the aggregate of the new snapshot
    WITHOUT rescanning the base data — the continuous-aggregate /
    materialized-view maintenance shape. Algebraic aggregates admit
    signed deltas: ``n += Σ sign``, ``sum += Σ sign·value``; groups whose
    count reaches zero disappear (matching a fresh aggregate, which
    never saw them).

    Plan: one delta aggregate over the change volume (map-side combined)
    + one null-safe full-outer join against the |groups|-sized old
    aggregate (``groupBy`` treats NULL as a real group, so the merge key
    must too) — cost scales with changes + groups, never with the 100 TB
    base table. That asymmetry is the entire point: a nightly refresh
    touches gigabytes, not the corpus.

    NULL-value semantics match SQL SUM: the maintained state also tracks
    the count of NON-NULL values per group (``_nv``), so a group whose
    last real value is retracted reports sum NULL — exactly what a
    from-scratch aggregate returns — instead of a fabricated 0.0. If
    ``old_agg`` lacks a ``_nv`` column one is bootstrapped as
    ``count_col`` (exact ONLY when the old snapshot had no NULL values
    in ``value_col`` — build the initial state with
    :func:`build_group_agg` for full generality; refreshes then carry
    ``_nv`` automatically).
    """
    delta = retractions.groupBy(group_col).agg(
        F.sum("sign").alias("_dn"),
        F.sum(F.col("sign") * F.col(value_col)).alias("_dv"),
        F.sum(
            F.when(F.col(value_col).isNotNull(), F.col("sign")).otherwise(F.lit(0))
        ).alias("_dnv"),
    )
    if "_nv" not in old_agg.columns:
        old_agg = old_agg.withColumn("_nv", F.col(count_col))
    o = old_agg.select(
        F.col(group_col).alias("_g_old"),
        F.col(count_col).alias("_n_old"),
        F.col(sum_col).alias("_s_old"),
        F.col("_nv").alias("_nv_old"),
    )
    d = delta.select(
        F.col(group_col).alias("_g_new"), "_dn", "_dv", "_dnv"
    )
    j = o.join(
        d, on=F.col("_g_old").eqNullSafe(F.col("_g_new")), how="full_outer"
    )
    n_new = F.coalesce("_n_old", F.lit(0)) + F.coalesce("_dn", F.lit(0))
    nv_new = F.coalesce("_nv_old", F.lit(0)) + F.coalesce("_dnv", F.lit(0))
    s_new = F.when(
        nv_new > 0,
        F.coalesce("_s_old", F.lit(0.0)) + F.coalesce("_dv", F.lit(0.0)),
    )  # zero non-null values -> SUM is NULL, as in SQL
    merged = j.select(
        F.coalesce(F.col("_g_new"), F.col("_g_old")).alias(group_col),
        n_new.alias(count_col),
        s_new.alias(sum_col),
        nv_new.alias("_nv"),
    )
    return merged.filter(F.col(count_col) > 0)


def group_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str | Column,
    y_col: str | Column,
    ndigits: int = 4,
) -> DataFrame:
    """B11 — per-group ordinary-least-squares trend line: slope,
    intercept, R², and point count of ``y ~ x`` within each group — the
    "fit a trend per user/source/segment" screen (engagement slopes,
    quality drift per source, per-key seasonality residuals).

    The line is reported in CENTERED-SUM form — (slope, R², sum_x,
    sum_y, n), i.e. ``y = sum_y/n + slope * (x - sum_x/n)`` — rather
    than as means or a raw intercept. Two reasons: the intercept
    extrapolates to x = 0 and amplifies float jitter by |mean_x|; and
    MEANS manufacture exact rounding ties — sum/n of fixed-precision
    data lands exactly on .ddd5 half-boundaries (observed at sf0.1),
    where Spark's BigDecimal HALF_UP and DuckDB's float round()
    legitimately disagree. The SUMS are exact multiples of the
    quantization grid, so rounding them at the grid is a tie-free
    identity. ``mean = sum/n`` and ``intercept = (sum_y - slope*sum_x)
    / n`` are caller-side one-liners.

    Engine-independence by construction (the §17f PSI lesson, applied
    to regression): the builtin ``regr_*`` co-moments accumulate in
    float, so two engines disagree at ~1e-8 — and with thousands of
    groups some value always lands within that jitter of a rounding
    half-boundary and flips the 4dp contract (observed at sf0.1).
    Instead, x and y are QUANTIZED to exact decimals (1e-6 for x, 1e-4
    for y — the operator's stated precision), the five moments
    Σx Σy Σxy Σx² Σy² are summed EXACTLY in decimal, and floats enter
    only at the final slope/R² expression — written identically in the
    oracle SQL, over bit-identical double inputs, so both engines
    produce bit-identical outputs (residual disagreement is the
    ~1e-10-probability round() tie on an exact-input expression, not a
    per-group coin flip).

    The zero-variance test itself is also EXACT (ADVICE r7): it compares
    the decimal ``min(x) != max(x)`` (and min/max of y for R²), NOT the
    float-rounded ``n·Σx² − (Σx)²`` — the double moments carry ~1e-8
    cast noise, so a constant-x group (x not representable at the 1e-6
    grid's double image, e.g. x = 2.336625) yields denx ≈ 1e-8 instead
    of 0 and would emit a garbage slope. min != max on the exact
    decimals is noise-free and implies n ≥ 2. The double ``den != 0``
    guard is kept as a secondary backstop against catastrophic
    cancellation rounding a genuinely-tiny variance to exactly 0.0
    (division by it would emit ±Inf); both guards appear verbatim in
    the oracle.

    Cost is one scan + one map-side-combined shuffle of (group, 5
    decimal moments + count) — no window, no per-group iteration; the
    decimal adds the same modest CPU premium as the b11 money policy
    (SCALE.md §9). Rows where either coordinate is NULL are dropped
    (regr_* semantics); zero x-variance (or y-variance, for R²) yields
    NULL — both engines agree because the zero test is on an exact
    decimal. Keep x in a moderate range (hours since an epoch, not
    epoch seconds): x is quantized at 1e-6 and squared into a
    DECIMAL(38) accumulator.
    """
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    xd = x.cast("decimal(16,6)")
    yd = y.cast("decimal(14,4)")
    base = df.filter(xd.isNotNull() & yd.isNotNull())
    m = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(xd).cast("double").alias("_sx"),
        F.sum(yd).cast("double").alias("_sy"),
        F.sum(xd * yd).cast("double").alias("_sxy"),
        F.sum(xd * xd).cast("double").alias("_sxx"),
        F.sum(yd * yd).cast("double").alias("_syy"),
        F.min(xd).alias("_xmin"),
        F.max(xd).alias("_xmax"),
        F.min(yd).alias("_ymin"),
        F.max(yd).alias("_ymax"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    denx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    # Exact-decimal variance tests (min != max implies n >= 2); the
    # double den != 0 stays only as the cancellation-to-exact-0 backstop.
    xvar = F.col("_xmin") != F.col("_xmax")
    yvar = F.col("_ymin") != F.col("_ymax")
    return m.select(
        *group_cols,
        F.round(F.when(xvar & (denx != 0.0), num / denx), ndigits).alias(
            "slope"
        ),
        F.round(
            F.when(
                xvar & yvar & (denx != 0.0) & (deny != 0.0),
                num * num / (denx * deny),
            ),
            ndigits,
        ).alias("r2"),
        # Rounding AT each input's quantization grid is a tie-free
        # identity (the exact decimal sum IS a grid point); it only
        # scrubs the double-representation noise of the cast.
        F.round("_sx", 6).alias("sum_x"),
        F.round("_sy", 4).alias("sum_y"),
        F.col("_n").cast("long").alias("n"),
    )


def hll_overlap(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    lg_config_k: int = 14,
) -> DataFrame:
    """B12 — approximate audience overlap between two cohorts via HLL
    inclusion-exclusion: |A∩B| ≈ |A| + |B| − |A∪B|, with |A∪B| from a
    lossless sketch UNION — the "how many users do both / how much do
    these corpora share" question answered WITHOUT ever shuffling or
    joining the key sets. Each side collapses to ONE few-KB sketch in a
    single map-side-combined pass; the union/subtraction is driver-trivial
    1-row algebra. At 100 TB this is the only tractable shape: the exact
    answer is a distinct-join of two billion-key sets.

    Error note: the subtraction amplifies relative error — the absolute
    error tracks ~|A∪B|·rsd, so the INTERSECTION estimate is only
    meaningful when the true overlap isn't tiny relative to the union
    (the registered query gates it against the exact answer at the
    union-scaled bound). lg_config_k=14 puts rsd at ~0.8%.

    Returns one row: (est_a, est_b, est_union, est_intersect) as longs
    (intersect floored at 0 — inclusion-exclusion can go slightly
    negative on disjoint sets).
    """
    sk = lambda d, n: d.agg(  # noqa: E731
        F.hll_sketch_agg(key_col, F.lit(lg_config_k)).alias(n)
    )
    both = sk(a, "_ska").crossJoin(sk(b, "_skb"))
    est = both.select(
        F.hll_sketch_estimate("_ska").alias("_ea"),
        F.hll_sketch_estimate("_skb").alias("_eb"),
        F.hll_sketch_estimate(F.hll_union("_ska", "_skb")).alias("_eu"),
    )
    return est.select(
        F.round("_ea").cast("long").alias("est_a"),
        F.round("_eb").cast("long").alias("est_b"),
        F.round("_eu").cast("long").alias("est_union"),
        F.greatest(
            F.lit(0).cast("long"),
            (F.round("_ea") + F.round("_eb") - F.round("_eu")).cast("long"),
        ).alias("est_intersect"),
    )


def cohens_kappa(
    df: DataFrame,
    col_a: str | Column,
    col_b: str | Column,
    ndigits: int = 4,
) -> DataFrame:
    """B28 — Cohen's kappa agreement between two categorical columns
    (model-vs-ground-truth, annotator-vs-annotator — the labeling-ops
    QA statistic): observed agreement corrected for the agreement two
    independent raters with these marginals would reach by chance,
    ``kappa = (po - pe) / (1 - pe)``.

    Everything reduces to exact integer counts first — N, the diagonal,
    and the per-category marginal products (category set assumed small:
    labels, languages, sources) — so po and pe are ratios of exact
    longs and the final expression runs over bit-identical doubles on
    any engine (§20 rule). Plan: two tiny marginal aggregates equi-
    joined on the category + one diagonal count — each a map-side
    combine over one scan; no window. Rows where either side is NULL
    are excluded (no agreement opinion). Degenerate pe=1 (both sides
    constant and equal) yields NULL kappa.

    Returns one row: (n, po, pe, kappa).
    """
    a = (F.col(col_a) if isinstance(col_a, str) else col_a).alias("_a")
    b = (F.col(col_b) if isinstance(col_b, str) else col_b).alias("_b")
    base = df.select(a, b).filter(
        F.col("_a").isNotNull() & F.col("_b").isNotNull()
    )
    tot = base.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum((F.col("_a") == F.col("_b")).cast("long")).alias("_diag"),
    )
    ma = base.groupBy("_a").agg(F.count("*").cast("long").alias("_ca"))
    mb = base.groupBy("_b").agg(F.count("*").cast("long").alias("_cb"))
    cross = (
        ma.join(mb, ma["_a"] == mb["_b"])
        .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("_pe_num"))
    )
    j = tot.crossJoin(cross)
    po = F.col("_diag").cast("double") / F.col("_n").cast("double")
    pe = F.col("_pe_num").cast("double") / (
        F.col("_n").cast("double") * F.col("_n").cast("double")
    )
    return j.select(
        F.col("_n").alias("n"),
        F.round(po, ndigits).alias("po"),
        F.round(pe, ndigits).alias("pe"),
        F.round(
            F.when(pe != 1.0, (po - pe) / (F.lit(1.0) - pe)), ndigits
        ).alias("kappa"),
    )


def _bucket_by_cuts(
    per: DataFrame,
    cuts: DataFrame,
    v_col: str,
    cuts_col: str,
    n_cuts: int,
    out_col: str,
) -> DataFrame:
    """Bucket id for the rank machinery: the count of broadcast cut
    points strictly below ``v_col`` — as a BINARY SEARCH over the sorted
    fixed-length cut array (r14, guide §4): one ⌈log2(n_cuts+1)⌉-step
    ``aggregate`` fold with O(1) ``try_element_at`` probes instead of the
    O(n_cuts) ``size(filter(cuts, x -> v > x))`` lambda — 9 interpreted
    steps per value instead of 511 at ``_RANK_BUCKETS`` = 512. (An
    unrolled when/element_at chain was tried first: codegen-friendly but
    the optimizer inlines the chained projections into a 3^depth
    expression tree — measured ~4.5 s of Catalyst time PER PLAN, re-paid
    on every AQE re-optimization. The single small fold plans in
    milliseconds; both forms beat the 511-step lambda at execution.)

    Result-identical to the filter-count for every input: the cut array
    is pre-sanitized ONCE on the 1-row ``cuts`` table — NaN cuts dropped
    (the old lambda's ``v > NaN`` was never true, so NaN cuts never
    counted) and ``array_sort``-ed (guarantees the monotone-prefix
    property binary search needs even where percentile_approx's NaN/edge
    placement is unspecified; for NaN-free input the array is already
    sorted and this is a no-op) — after which the predicate
    cuts[i] < v is monotone in i and the largest satisfying position IS
    the strict-less count (duplicates all sit left of the first >= v;
    NaN values compare greatest on both forms, landing in the last
    bucket). Probes past the (possibly shortened) array fail via
    try_element_at's NULL, preserving the prefix property.
    """
    vt = dict(per.dtypes)[v_col]
    if vt in ("double", "float"):
        cuts = cuts.select(
            F.array_sort(
                F.filter(F.col(cuts_col), lambda x: ~F.isnan(x))
            ).alias(cuts_col)
        )
    depth = int(n_cuts).bit_length()
    fold = F.expr(
        f"""aggregate(
          sequence({depth - 1}, 0, -1),
          0,
          (pos, i) -> IF(pos + shiftleft(1, i) <= {n_cuts}
                         AND try_element_at({cuts_col},
                                            pos + shiftleft(1, i)) < {v_col},
                         pos + shiftleft(1, i), pos))"""
    )
    return (
        per.crossJoin(F.broadcast(cuts))
        .withColumn(out_col, fold)
        .drop(cuts_col)
    )


#: Bucket count of the rank-statistics family's two-level prefix sums.
#: The percentile cut points only balance the per-bucket windows (the
#: sums are exact for any count), so this is a constant, not an option.
_RANK_BUCKETS = 512


def _cumulative_by_value(
    per: DataFrame, sums: Sequence[str], descending: bool = False
) -> "tuple[DataFrame, DataFrame]":
    """Exact inclusive cumulative sums in ``_v`` order with no global
    sort — the machinery under rank_sum_test, ks_test, auc_exact,
    pr_auc_exact and weighted_percentiles (and the two-level prefix-sum
    shape of token_budget_mix/equidepth, applied to order statistics).

    ``per`` holds one row per distinct ``_v`` and the long columns named
    in ``sums``. Approximate percentile cut points (broadcast scalars —
    they only balance the buckets, correctness never depends on them)
    give each value a bucket row-locally; the cross-bucket offset is a
    window over the ≤``_RANK_BUCKETS``-row bucket-total table (bounded by
    construction — the plan-audit allowlist class), the within-bucket
    prefix is a window PARTITIONED by bucket, and the offsets meet the
    values in a broadcast join. All of it is long addition, so the sums
    are exact. ``descending`` accumulates from the largest ``_v`` down.

    Returns ``(cum, totals)``: ``per`` plus a ``<name>_cum`` column per
    sum (the sum over every value at or before this one), and the
    bucket-total table (``_bkt`` plus each sum under its own name).
    """
    from pyspark.sql import Window

    probs = [i / _RANK_BUCKETS for i in range(1, _RANK_BUCKETS)]
    cuts = per.agg(F.percentile_approx("_v", probs, 10_000).alias("_cuts"))
    bucketed = _bucket_by_cuts(
        per, cuts, "_v", "_cuts", _RANK_BUCKETS - 1, "_bkt"
    )
    order = F.desc if descending else F.asc
    totals = bucketed.groupBy("_bkt").agg(*[F.sum(c).alias(c) for c in sums])
    wb = Window.orderBy(order("_bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_bkt",
        *[
            F.coalesce(F.sum(c).over(wb), F.lit(0)).cast("long").alias(c + "_off")
            for c in sums
        ],
    )
    ww = (
        Window.partitionBy("_bkt")
        .orderBy(order("_v"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = [F.sum(c).over(ww).cast("long").alias(c + "_pre") for c in sums]
    cum = (
        bucketed.select("*", *prefix)
        .join(F.broadcast(offsets), on="_bkt")
        .select(
            *per.columns,
            *[(F.col(c + "_off") + F.col(c + "_pre")).alias(c + "_cum") for c in sums],
        )
    )
    return cum, totals


def rank_sum_test(
    df: DataFrame,
    group_col: str | Column,
    value_col: str | Column,
    group_a: str,
    ndigits: int = 4,
) -> DataFrame:
    """B11 — Mann-Whitney/Wilcoxon rank-sum test between two cohorts
    (the nonparametric A/B test: "does cohort A's value distribution
    stochastically dominate B's"), with EXACT tie-corrected average
    ranks — computed WITHOUT a global sort.

    The scale shape: values reduce to per-DISTINCT-value counts first
    (one aggregate), and :func:`_cumulative_by_value` gives each value
    its exact cumulative count; #less(v) is that count minus #eq(v), so
    average ranks come out exact: rank_avg(v) = #less(v) + (#eq(v)+1)/2.

    Engine-exactness (§20 rules): ranks are carried DOUBLED as exact
    longs (average ranks are half-integers), every statistic is a sum
    of exact integer products, and floats enter only in the final
    identically-written z expression — bit-identical on any engine.
    The tie-corrected normal approximation:
    ``z = (U - n1 n2/2) / sqrt(n1 n2/12 ((n+1) - Σ(t³-t)/(n(n-1))))``.

    Returns one row: (n_a, n_b, rank_sum_a, u_a, z). NULL groups/values
    are excluded; z is NULL when either cohort is empty or all values
    tie (zero variance).
    """
    g = (F.col(group_col) if isinstance(group_col, str) else group_col)
    v = (F.col(value_col) if isinstance(value_col, str) else value_col)
    base = df.select(g.alias("_g"), v.alias("_v")).filter(
        F.col("_g").isNotNull() & F.col("_v").isNotNull()
    )
    per = base.groupBy("_v").agg(
        F.count("*").cast("long").alias("_c"),
        F.sum((F.col("_g") == group_a).cast("long")).alias("_ca"),
    )
    cum, _ = _cumulative_by_value(per, ["_c"])
    # rank2 = twice the average rank — an exact long:
    # 2·#less + #eq + 1 with #less = cum − #eq.
    ranked = cum.withColumn(
        "_rank2", 2 * F.col("_c_cum") - F.col("_c") + F.lit(1)
    )
    stats = ranked.agg(
        F.sum("_ca").cast("long").alias("_n1"),
        F.sum("_c").cast("long").alias("_n"),
        F.sum(F.col("_ca") * F.col("_rank2")).cast("long").alias("_r2a"),
        F.sum(
            F.col("_c") * F.col("_c") * F.col("_c") - F.col("_c")
        ).cast("long").alias("_ties"),
    )
    n1 = F.col("_n1").cast("double")
    n2 = (F.col("_n") - F.col("_n1")).cast("double")
    n = F.col("_n").cast("double")
    r_a = F.col("_r2a").cast("double") / F.lit(2.0)
    u_a = r_a - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    # try_divide: with a single observation n·(n−1) = 0, and this
    # division runs while EVALUATING the `var > 0.0` guard condition
    # below — under ANSI (Spark 4 default) plain division would kill
    # the job before the guard could return its NULL z-score.
    var = (
        n1 * n2 / F.lit(12.0)
        * (
            (n + F.lit(1.0))
            - F.try_divide(
                F.col("_ties").cast("double"), n * (n - F.lit(1.0))
            )
        )
    )
    z = F.when(
        (F.col("_n1") > 0) & (F.col("_n") > F.col("_n1")) & (var > 0.0),
        (u_a - n1 * n2 / F.lit(2.0)) / F.sqrt(var),
    )
    return stats.select(
        F.col("_n1").alias("n_a"),
        (F.col("_n") - F.col("_n1")).alias("n_b"),
        F.round(r_a, ndigits).alias("rank_sum_a"),
        F.round(u_a, ndigits).alias("u_a"),
        F.round(z, ndigits).alias("z"),
    )


def ks_test(
    df: DataFrame,
    group_col: str | Column,
    value_col: str | Column,
    group_a: str,
    ndigits: int = 4,
) -> DataFrame:
    """B11 — two-sample Kolmogorov-Smirnov distance: D = max over the
    observed values of |ECDF_A − ECDF_B| — the distribution-shift test
    that reads the WHOLE distribution (where PSI buckets and the
    rank-sum's location shift can both miss shape changes).

    Same scale machinery as :func:`rank_sum_test` (exact global order
    statistics, no global sort): per-distinct-value counts per cohort,
    :func:`_cumulative_by_value` gives each value its exact cumulative
    count per cohort, and D is one max-aggregate over
    |cumA/n1 − cumB/n2|. The ECDF ratios are exact-integer quotients in
    an identically-written expression — bit-identical cross-engine; the
    max of bit-identical doubles is bit-identical (§20 rules).

    Returns one row: (n_a, n_b, ks_d). NULL when a cohort is empty.
    """
    g = (F.col(group_col) if isinstance(group_col, str) else group_col)
    v = (F.col(value_col) if isinstance(value_col, str) else value_col)
    base = df.select(g.alias("_g"), v.alias("_v")).filter(
        F.col("_g").isNotNull() & F.col("_v").isNotNull()
    )
    per = base.groupBy("_v").agg(
        F.sum((F.col("_g") == group_a).cast("long")).alias("_ca"),
        F.sum((F.col("_g") != group_a).cast("long")).alias("_cb"),
    )
    cum, _ = _cumulative_by_value(per, ["_ca", "_cb"])
    # Cohort totals from the per-distinct-value table, NOT a base
    # re-scan (r14, guide §2.4 — the weighted_percentiles W fix): the
    # sums of per-value counts ARE n1/n2 exactly (integer addition,
    # order-free), and `per`'s exchange is already computed for the
    # bucketing — the third full scan of the input disappears.
    tot = per.agg(
        F.sum("_ca").cast("long").alias("_n1"),
        F.sum("_cb").cast("long").alias("_n2"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    # try_divide: if EVERY row belongs to one side, the other side's
    # total is 0 and this per-row expression evaluates BEFORE the
    # (_n1 > 0) & (_n2 > 0) guard in the final aggregate — under ANSI
    # (Spark 4 default) plain division would kill the job instead of
    # reaching that guard's NULL ks_d.
    d = F.abs(
        F.try_divide(F.col("_ca_cum").cast("double"), F.col("_n1").cast("double"))
        - F.try_divide(F.col("_cb_cum").cast("double"), F.col("_n2").cast("double"))
    )
    return j.groupBy().agg(
        F.first("_n1").alias("n_a"),
        F.first("_n2").alias("n_b"),
        F.round(
            F.when((F.first("_n1") > 0) & (F.first("_n2") > 0), F.max(d)),
            ndigits,
        ).alias("ks_d"),
    )


def chi_square_test(
    df: DataFrame,
    col_a: str | Column,
    col_b: str | Column,
    ndigits: int = 4,
) -> DataFrame:
    """B28 — chi-square test of independence between two categorical
    columns (is source mix independent of language? does segment predict
    event type?). Everything reduces to exact integer contingency and
    marginal counts over the small category sets; expected counts and
    the statistic are identically-written expressions over bit-identical
    doubles (§20). Plan: one contingency aggregate + two marginal
    aggregates equi-joined back on the categories — all tiny,
    map-side-combined; no window.

    Returns one row: (n, dof, chi2). NULL-category rows are excluded;
    dof = (|A|−1)(|B|−1); chi2 NULL when dof is 0.
    """
    a = (F.col(col_a) if isinstance(col_a, str) else col_a).alias("_a")
    b = (F.col(col_b) if isinstance(col_b, str) else col_b).alias("_b")
    base = df.select(a, b).filter(
        F.col("_a").isNotNull() & F.col("_b").isNotNull()
    )
    obs = base.groupBy("_a", "_b").agg(F.count("*").cast("long").alias("_o"))
    ma = base.groupBy("_a").agg(F.count("*").cast("long").alias("_ra"))
    mb = base.groupBy("_b").agg(F.count("*").cast("long").alias("_cb"))
    n = base.agg(F.count("*").cast("long").alias("_n"))
    e = (
        obs.join(ma, on="_a")
        .join(mb, on="_b")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "_e",
            F.col("_ra").cast("double")
            * F.col("_cb").cast("double")
            / F.col("_n").cast("double"),
        )
    )
    term = (F.col("_o").cast("double") - F.col("_e")) * (
        F.col("_o").cast("double") - F.col("_e")
    ) / F.col("_e")
    # Observed-zero cells contribute (0-e)^2/e too, but they are absent
    # from the contingency aggregate: add their total analytically —
    # sum over missing cells of e = n - sum over present cells of e.
    agg = e.agg(
        F.first("_n").alias("n"),
        F.sum(term).alias("_chi_present"),
        F.sum("_e").alias("_e_present"),
        F.count_distinct("_a").cast("long").alias("_ka"),
        F.count_distinct("_b").cast("long").alias("_kb"),
    )
    dof = (F.col("_ka") - 1) * (F.col("_kb") - 1)
    chi2 = F.col("_chi_present") + (
        F.col("n").cast("double") - F.col("_e_present")
    )
    return agg.select(
        "n",
        dof.alias("dof"),
        F.round(F.when(dof > 0, chi2), ndigits).alias("chi2"),
    )


def _finite_score(s: Column) -> Column:
    """Keep only real [0,1]-intended scores: NULLs AND NaNs are dropped.
    NaN passes isNotNull, floors into bin 0 on Spark, and poisons every
    downstream sum (brier/reliability/resolution all NaN) while a SQL
    twin errors or NULLs on the same cast — both wrong-answer and
    cross-engine divergent."""
    return s.isNotNull() & ~F.isnan(s)


def _clamped_bin(s: Column, n_bins: int) -> Column:
    """The equal-width bin assignment shared by :func:`calibration_bins`
    and :func:`brier_decomposition` (one definition so the two can't
    drift): clamped floor(score·n_bins) into [0, n_bins-1]."""
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(n_bins - 1), F.floor(s * n_bins)).cast("long"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """B28 — reliability-diagram bins for a [0,1] classifier score (the
    quality-classifier calibration check a filtering pipeline runs before
    trusting its threshold): bucket scores into ``n_bins`` equal-width
    bins, and per bin report exact counts plus the positive rate in
    integer basis points:

      bin           greatest(0, least(n_bins-1, floor(score * n_bins)))
                    — clamped at BOTH ends, so 1.0 lands in the top bin
                    and an out-of-contract score below 0 lands in bin 0
                    instead of silently minting a negative phantom bin
                    with a nonsensical negative midpoint (r8 ADVICE fix)
      n             rows in the bin
      n_pos         rows with a true label
      pos_rate_bp   n_pos * 10000 div n
      mid_bp        bin midpoint in basis points — (2*bin+1)*10000
                    div (2*n_bins); |pos_rate_bp − mid_bp| is the
                    per-bin calibration error, summable to ECE caller-side

    All-integer output (no rounding contract); the float boundary is the
    bin assignment itself, where both engines floor the identically
    computed ``score * n_bins`` double. NULL scores/labels are dropped.
    One map-side-combined aggregate — scan-bound at any scale, output
    bounded by n_bins.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    s = F.col(score_col).cast("double")
    lbl = F.col(label_col).cast("boolean")
    base = df.filter(_finite_score(s) & lbl.isNotNull())
    b = _clamped_bin(s, n_bins)
    g = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(lbl, 1).otherwise(0)).cast("long").alias("n_pos"),
    )
    return g.select(
        "bin",
        "n",
        "n_pos",
        F.expr("(n_pos * 10000) div n").alias("pos_rate_bp"),
        F.expr(f"((2 * bin + 1) * 10000) div {2 * n_bins}").alias("mid_bp"),
    )


def rfm_segments(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_buckets: int = 5,
) -> DataFrame:
    """B35/B11 — RFM (recency / frequency / monetary) segmentation, the
    classic customer-value grid: per customer, days since last order
    (vs the corpus max date), order count, and exact lifetime cents;
    each metric bucketed into ``n_buckets`` equal-population bands and
    the population reported per (r, f, m) cell. Bucket 1 is BEST on
    every axis (most recent / most frequent / highest spend — the
    b17_window_ntile convention: ties at a cut point go to the better
    bucket on both engines).

    No global-order window anywhere: the ``n_buckets - 1`` cut points
    per metric come from ONE exact-percentile aggregate over the
    customer-sized table (mergeable, map-side combined, 1-row result)
    broadcast to every task, and bucket assignment is a row-local array
    fold — the same machinery as the ntile-free global quartiles.
    Money is exact int64 cents (floor(x·100+0.5) per row, the repo's
    clean-2-decimal contract), so total_cents is engine-exact; the only
    float surface is the interpolated percentile cut points, identical
    on both engines over identical integer inputs.

    Plan: fact scan → per-customer aggregate → two 1-row broadcasts
    (max date, cut points) → row-local bucketing → one bounded
    aggregate (≤ n_buckets³ rows). At 100 TB the only shuffle is the
    per-customer aggregate, which any RFM needs.

    Returns (r_bucket, f_bucket, m_bucket, n_customers long,
    total_cents long).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    qlit = ", ".join(repr(q) for q in qs)
    # NULL customer/date/amount rows are dropped up front: a NULL metric
    # would compare NULL against every cut, F.filter would drop all
    # cuts, and 1 + size(empty) would file the UNKNOWN-value customer in
    # bucket 1 — the BEST band on that axis (an all-NULL-dates customer
    # ranking "most recent"). The registered oracle filters identically.
    # ~isnan as well as isNotNull: floor(NaN·100 + 0.5) is NaN, and
    # casting NaN to long RAISES under ANSI (the Spark 4 default) — one
    # corrupt amount would kill the whole job instead of dropping.
    orders = orders.filter(
        F.col(customer_col).isNotNull()
        & F.col(date_col).isNotNull()
        & F.col(amount_col).isNotNull()
        & ~F.isnan(F.col(amount_col).cast("double"))
    )
    cents = F.floor(F.col(amount_col) * 100 + F.lit(0.5)).cast("long")
    per = orders.groupBy(F.col(customer_col).alias("_cust")).agg(
        F.max(date_col).alias("_last"),
        F.count(F.lit(1)).cast("long").alias("_freq"),
        F.sum(cents).cast("long").alias("_cents"),
    )
    # Corpus max date from the per-customer aggregate (max of per-group
    # maxes) — NOT a second fact-table scan.
    maxd = per.agg(F.max("_last").alias("_maxd"))
    per = per.crossJoin(F.broadcast(maxd)).withColumn(
        "_rdays", F.datediff(F.col("_maxd"), F.col("_last")).cast("long")
    )
    # Cut points are rounded to a fixed 6-decimal grain BEFORE the
    # strict comparisons below: the metrics are integers, so an
    # interpolated cut landing within 1 ulp of an integer (e.g.
    # 12.999999999999998 vs 13.0 from two engines' lower+frac*delta)
    # would otherwise flip that customer's bucket cross-engine. At 6 dp
    # the q∈{.2,.4,.6,.8} interpolation of integer inputs can never sit
    # on a rounding half-boundary, so both engines land on the same
    # grid point. The oracle applies the identical round. NOTE: that
    # never-on-a-half-boundary argument needs the quantile fractions
    # i/n_buckets to terminate well inside 6 decimals — true for the
    # default 5 and any n_buckets of the form 2^a·5^b; for e.g.
    # n_buckets=3 (repeating 1/3) a cut CAN land near x.xxxxxx5 and a
    # >1e-7 cross-engine interpolation gap could still flip the grid
    # point. It also needs cut magnitudes below ~2^33 (~$86M lifetime
    # cents): above that a double's ulp exceeds the 1e-6 grid, so
    # round(x, 6) can no longer snap two engines' interpolations to the
    # same point. Engine output is deterministic either way; only the
    # cross-engine bitwise-parity guarantee narrows to terminating
    # fractions and sub-2^33 cuts.
    cuts = per.agg(
        F.expr(
            f"transform(percentile(_rdays, array({qlit})), x -> round(x, 6))"
        ).alias("_rc"),
        F.expr(
            f"transform(percentile(_freq, array({qlit})), x -> round(x, 6))"
        ).alias("_fc"),
        F.expr(
            f"transform(percentile(_cents, array({qlit})), x -> round(x, 6))"
        ).alias("_mc"),
    )

    def _bucket(metric: str, cuts_col: str, best_is_low: bool) -> Column:
        m = F.col(metric)
        if best_is_low:
            fold = F.filter(F.col(cuts_col), lambda x: m > x)
        else:
            fold = F.filter(F.col(cuts_col), lambda x: m < x)
        return (F.lit(1) + F.size(fold)).cast("long")

    b = per.crossJoin(F.broadcast(cuts)).select(
        _bucket("_rdays", "_rc", True).alias("r_bucket"),
        _bucket("_freq", "_fc", False).alias("f_bucket"),
        _bucket("_cents", "_mc", False).alias("m_bucket"),
        "_cents",
    )
    return b.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_cents").cast("long").alias("total_cents"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """B28 — Brier score with the Murphy decomposition over equal-width
    score bins: the one-row scorecard that says not just HOW wrong a
    [0,1] classifier is but WHY —

      brier        mean (score − label)², computed EXACTLY (unbinned)
      reliability  (1/N) Σ_k n_k (s̄_k − o_k)²   — calibration gap
      resolution   (1/N) Σ_k n_k (o_k − ō)²      — discrimination earned
      uncertainty  ō(1 − ō)                        — the data's floor
      binning_residual  brier − (reliability − resolution + uncertainty)

    Murphy's identity brier = rel − res + unc is exact only when
    forecasts are constant within a bin; under equal-width binning the
    identity misses by the within-bin score variance, which is emitted
    as ``binning_residual`` rather than silently absorbed — a large
    residual says "bin finer before trusting the split". Bin assignment
    is :func:`calibration_bins`' clamped floor; NULL scores/labels are
    dropped.

    Plan: one scan → one map-side-combined per-bin aggregate (≤ n_bins
    rows) → 1-row totals broadcast back for ō → final 1-row aggregate.
    Scan-bound at any scale. Doubles rounded to 4 decimals at the final
    projection only (cross-engine partial-sum order noise ~1e-15).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    s = F.col(score_col).cast("double")
    lbl = F.col(label_col).cast("boolean")
    base = df.filter(_finite_score(s) & lbl.isNotNull()).select(
        s.alias("_s"), F.when(lbl, 1.0).otherwise(0.0).alias("_y")
    )
    b = _clamped_bin(F.col("_s"), n_bins)
    # Squares are written as explicit products, NOT pow(x, 2): Spark's
    # Math.pow and an oracle engine's libm pow are not guaranteed
    # bitwise-equal, while IEEE multiplication is.
    err = F.col("_s") - F.col("_y")
    per = base.groupBy(b.alias("_bin")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").alias("_npos"),
        F.sum("_s").alias("_ssum"),
        F.sum(err * err).alias("_sqe"),
    )
    tot = per.agg(
        F.sum("_n").alias("_nn"),
        F.sum("_npos").alias("_pp"),
        F.sum("_sqe").alias("_sqet"),
    )
    obar = F.col("_pp") / F.col("_nn")
    ok = F.col("_npos") / F.col("_n")
    sk = F.col("_ssum") / F.col("_n")
    out = (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.first("_nn").alias("_N"),
            F.first("_sqet").alias("_bsum"),
            F.sum(F.col("_n") * (sk - ok) * (sk - ok)).alias("_rel"),
            F.sum(F.col("_n") * (ok - obar) * (ok - obar)).alias("_res"),
            F.first(obar * (F.lit(1.0) - obar)).alias("_unc"),
        )
    )
    brier = F.col("_bsum") / F.col("_N")
    rel = F.col("_rel") / F.col("_N")
    res = F.col("_res") / F.col("_N")
    # Empty/fully-filtered input: the ungrouped agg still emits one
    # all-NULL row — drop it so the output is 0 rows, matching any
    # GROUP-BY-over-empty SQL twin (engine/oracle row-count parity).
    out = out.filter(F.col("_N").isNotNull())
    return out.select(
        F.col("_N").cast("long").alias("n"),
        F.round(brier, 4).alias("brier"),
        F.round(rel, 4).alias("reliability"),
        F.round(res, 4).alias("resolution"),
        F.round(F.col("_unc"), 4).alias("uncertainty"),
        F.round(brier - (rel - res + F.col("_unc")), 4).alias(
            "binning_residual"
        ),
    )


def gain_chart(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """B28 — cumulative gain / lift table for a classifier score: the
    DISCRIMINATION check beside :func:`calibration_bins`' reliability
    check — "if I keep only the top-k score deciles, what share of the
    positives do I capture?" — the curve that sets a quality-filter
    threshold. Rows are descending-score equi-depth buckets (bucket 1 =
    top scores), built on the proven b11_equidepth machinery: exact
    quantile cut points from ONE percentile aggregate, broadcast as a
    1-row scalar, bucket = n_bins − (cut points below the score) — no
    ntile, no global sort.

      bucket            1 = highest scores .. n_bins = lowest
      n / n_pos         exact rows / positives in the bucket
      cum_n / cum_pos   running totals over buckets 1..k
      gain_bp           cum_pos * 10000 div total_pos (captured share)
      lift_bp           (cum_pos * total_n * 10000) div (cum_n *
                        total_pos) — 10000 = random, above = better

    Both numerators are lifted to DECIMAL(38,0) before the multiply
    (the :func:`auc_exact` overflow posture): at 10^10 scored rows the
    lift numerator cum_pos · total_n · 10000 reaches ~10^23 ≫ 2^63,
    and under Spark 4 ANSI a long product is a runtime
    ArithmeticException exactly at the corpus sizes the chart targets.
    The denominator cum_n · total_pos is lifted for the same reason.
    Output stays LONG (basis points fit trivially). Exactness bound:
    the lifted numerator hits DECIMAL(38,0)'s 10^38 cap at ~10^16
    scored rows — four orders of magnitude past a 10^12-row (100 TB)
    corpus, and the same cap as DuckDB's 127-bit HUGEINT.

    The cumulative sum uses NO window: each bucket row explodes into
    contributions to buckets k..n_bins (bounded ×n_bins fan-out of an
    ≤n_bins-row table) and one aggregate folds them — window-free, so
    the plan audit's unpartitioned-window rule never applies. Leading
    buckets that hold no rows (heavily tied score mass) are omitted —
    both engines compute identical cut points, so identically. NULL
    scores/labels are dropped; total_pos = 0 yields gain/lift 0 rather
    than a division error.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    sc = F.col(score_col)
    lbl = F.col(label_col).cast("boolean")
    base = df.filter(sc.isNotNull() & lbl.isNotNull()).select(
        sc.alias("_s"), lbl.cast("int").alias("_y")
    )
    fracs = ", ".join(str(q / n_bins) for q in range(1, n_bins))
    cuts = base.agg(F.expr(f"percentile(_s, array({fracs}))").alias("_c"))
    j = base.crossJoin(F.broadcast(cuts))
    bucket = F.lit(n_bins) - F.size(
        F.filter(F.col("_c"), lambda x: F.col("_s") > x)
    )
    per = j.groupBy(bucket.alias("_b")).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_np"),
    )
    contrib = per.select(
        F.explode(F.sequence(F.col("_b"), F.lit(n_bins))).alias("bucket"),
        "_b",
        "_n",
        "_np",
    )
    cum = contrib.groupBy("bucket").agg(
        F.sum(F.when(F.col("_b") == F.col("bucket"), F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(F.col("_b") == F.col("bucket"), F.col("_np")).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum("_n").cast("long").alias("cum_n"),
        F.sum("_np").cast("long").alias("cum_pos"),
    )
    # Totals from the <=n_bins-row per-bucket table, NOT a base re-scan
    # (r14, guide §2.4): every surviving row lands in exactly one
    # bucket, so Σ_n/Σ_np are the exact global counts. (Empty input:
    # `cum` is empty too, so the totals row never surfaces — the old
    # 0-vs-NULL distinction on _tn is unobservable.)
    totals = per.agg(
        F.sum("_n").cast("long").alias("_tn"),
        F.sum("_np").cast("long").alias("_tp"),
    )
    out = cum.crossJoin(F.broadcast(totals))
    gain, lift = _gain_lift_columns()
    return out.select(
        "bucket",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        gain.alias("gain_bp"),
        lift.alias("lift_bp"),
    )


def _gain_lift_columns() -> "tuple[Column, Column]":
    """The overflow-lifted gain/lift basis-point expressions of
    :func:`gain_chart` over columns (cum_pos, cum_n, _tn, _tp) —
    factored out so the 2^63-adjacent arithmetic can be pinned by a
    synthetic-counts unit test without materializing 10^10 rows. Both
    numerators AND the lift denominator run in DECIMAL(38,0); output
    is LONG."""
    gain = F.when(F.col("_tp") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("(CAST(cum_pos AS DECIMAL(38,0)) * 10000) div _tp").cast("long")
    )
    lift = F.when(
        (F.col("_tp") == 0) | (F.col("cum_n") == 0), F.lit(0).cast("long")
    ).otherwise(
        F.expr(
            "(CAST(cum_pos AS DECIMAL(38,0)) * _tn * 10000)"
            " div (CAST(cum_n AS DECIMAL(38,0)) * _tp)"
        ).cast("long")
    )
    return gain, lift


def auc_exact(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
) -> DataFrame:
    """B28 — EXACT ROC-AUC in integer basis points, computed from the
    rank-sum machinery (:func:`rank_sum_test`): AUC is the normalized
    Mann-Whitney U — P(random positive outranks a random negative),
    ties counting ½, which exact tie-corrected average ranks encode for
    free. Completes the classifier-eval trio (calibration_bins =
    reliability, gain_chart = depth-wise discrimination, auc_exact =
    the single-number ranking summary) — the threshold-free quality
    gate for a filtering classifier.

      n_pos / n_neg   exact cohort sizes
      u2_pos          2·U for the positive cohort — an exact long
                      (average ranks are half-integers, so DOUBLED
                      ranks and doubled U are integers)
      auc_bp          (u2_pos · 10000) div (2 · n_pos · n_neg), the
                      numerator lifted to DECIMAL(38,0) first — at
                      10^9 rows 2·U reaches ~2·10^18 and the ×10000
                      product overflows int64 long before AUC does.
                      5000 = random ranking, 10000 = perfect.

    No global sort (the rank_sum shape): per-distinct-score counts
    ranked through :func:`_cumulative_by_value`. All-integer output — no
    float enters at any point, so the value is bit-identical on any engine
    and any partial-aggregation order. NULL scores/labels drop;
    either cohort empty ⇒ auc_bp NULL (undefined, loudly).
    """
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    lb = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        sc.alias("_v"), lb.cast("boolean").alias("_y")
    ).filter(F.col("_v").isNotNull() & F.col("_y").isNotNull())
    per = base.groupBy("_v").agg(
        F.count("*").cast("long").alias("_c"),
        F.sum(F.col("_y").cast("long")).alias("_ca"),
    )
    cum, _ = _cumulative_by_value(per, ["_c"])
    ranked = cum.withColumn(
        "_rank2", 2 * F.col("_c_cum") - F.col("_c") + F.lit(1)
    )
    stats = ranked.agg(
        F.sum("_ca").cast("long").alias("n_pos"),
        (F.sum("_c") - F.sum("_ca")).cast("long").alias("n_neg"),
        (
            F.sum(F.col("_ca") * F.col("_rank2"))
            - F.sum("_ca") * (F.sum("_ca") + 1)
        )
        .cast("long")
        .alias("u2_pos"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.expr(
            "(CAST(u2_pos AS DECIMAL(38,0)) * 10000)"
            " div (CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2)"
        ),
    )
    return stats.select(
        "n_pos", "n_neg", "u2_pos", auc.cast("long").alias("auc_bp")
    )


def pr_auc_exact(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
) -> DataFrame:
    """B28 — PR-AUC (average precision) in integer basis points from the
    same no-global-sort rank machinery as :func:`auc_exact`, completing
    the classifier-eval family: calibration_bins = reliability,
    gain_chart = depth-wise discrimination, auc_exact = ranking quality,
    pr_auc = ranking quality under class imbalance — the metric that
    matters when positives are rare (the usual case for a corpus
    quality / contamination filter, where ROC-AUC looks deceptively
    healthy).

    Definition (the sklearn ``average_precision_score`` step form, ties
    handled by distinct-score thresholds): over distinct scores in
    DESCENDING order with per-threshold cumulative counts,

      AP = Σ_t (ca_t / n_pos) · (cum_pos_t / cum_n_t)

    i.e. recall-increment times precision at each threshold. Exact
    rational AP has per-term denominators, so the published number is a
    DEFINED integer fold: each term computed as
    ``(ca_t · cum_pos_t · 10^8) div cum_n_t`` in DECIMAL(38,0), summed,
    then ``div (n_pos · 10^4)`` → basis points. Both engines run the
    identical integer ops, so the value is bit-identical; the floor per
    term under-counts true AP by < m/(n_pos·10^4) bp for m distinct
    scores — at 10^4+ positives the error is < 1 bp per 10^8/m, stated
    honestly (the lsh_power_curve integer-fold posture). Overflow: the
    per-term numerator ≤ n_pos·cum_pos·10^8 ≤ 10^32 at 10^12 rows,
    inside DECIMAL(38,0) and DuckDB's HUGEINT alike.

      n_pos / n_neg   exact cohort sizes
      ap_bp           average precision in basis points (10000 = every
                      positive ranked above every negative)
      base_bp         prevalence n_pos/(n_pos+n_neg) in bp — the random-
                      classifier AP baseline to read ap_bp against

    Plan shape (the auc_exact twin, order flipped): per-distinct-score
    counts through :func:`_cumulative_by_value` in DESCENDING order —
    global order statistics with no global sort, no unpartitioned
    window over data-sized input. NULL scores/labels drop; an empty
    positive cohort ⇒ ap_bp NULL (undefined, loudly).
    """
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    lb = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        sc.alias("_v"), lb.cast("boolean").alias("_y")
    ).filter(F.col("_v").isNotNull() & F.col("_y").isNotNull())
    per = base.groupBy("_v").agg(
        F.count("*").cast("long").alias("_c"),
        F.sum(F.col("_y").cast("long")).alias("_ca"),
    )
    cum, _ = _cumulative_by_value(per, ["_c", "_ca"], descending=True)
    ranked = cum.select(
        "_c",
        "_ca",
        F.col("_c_cum").alias("cum_n"),
        F.col("_ca_cum").alias("cum_pos"),
    )
    term = F.expr(
        "(CAST(_ca AS DECIMAL(38,0)) * cum_pos * 100000000) div cum_n"
    )
    stats = ranked.agg(
        F.sum("_ca").cast("long").alias("n_pos"),
        (F.sum("_c") - F.sum("_ca")).cast("long").alias("n_neg"),
        F.sum(term).alias("_ap_num"),
    )
    ap = F.when(
        F.col("n_pos") > 0,
        F.expr("_ap_num div (CAST(n_pos AS DECIMAL(38,0)) * 10000)"),
    )
    basep = F.when(
        (F.col("n_pos") + F.col("n_neg")) > 0,
        F.expr("(n_pos * 10000) div (n_pos + n_neg)"),
    )
    return stats.select(
        "n_pos",
        "n_neg",
        ap.cast("long").alias("ap_bp"),
        basep.cast("long").alias("base_bp"),
    )


def operating_points(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
    thresholds: "Sequence[float]",
) -> DataFrame:
    """B28 — classifier OPERATING-POINT report: exact confusion counts
    and precision/recall/F1 at each candidate decision threshold — the
    last step of the eval family (calibration_bins/gain_chart say how
    the score behaves, auc/pr_auc say how it ranks; this is where the
    filter's cut actually gets chosen, e.g. "keep docs with quality
    score >= 0.7").

      threshold_bp    the threshold in basis points (exact integer
                      identity — float thresholds ship as their 1e4
                      fixed-point form so the row key is hash-stable)
      tp/fp/fn/tn     exact counts at pred = (score >= threshold)
      precision_bp    tp·10000 div (tp+fp); NULL when nothing is
                      predicted positive (undefined, loudly)
      recall_bp       tp·10000 div (tp+fn); NULL when no positives
      f1_bp           (2·tp·10000) div (2·tp+fp+fn) — the exact
                      integer form of the harmonic mean; NULL when
                      tp+fp+fn = 0

    All-integer output. Plan: one scan; each row explodes into
    |thresholds| contributions (bounded literal fan-out) and one
    map-side-combined aggregate folds the confusion counts — no join,
    no window, output bounded by |thresholds|. NULL scores/labels drop.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    lb = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        sc.alias("_s"), lb.cast("boolean").alias("_y")
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    cells = F.array(
        *[
            F.struct(
                F.lit(int(round(float(t) * 10_000))).alias("threshold_bp"),
                (F.col("_s") >= F.lit(float(t))).alias("_pred"),
            )
            for t in thresholds
        ]
    )
    ex = base.select("_y", F.explode(cells).alias("_c")).select(
        F.col("_c.threshold_bp").alias("threshold_bp"),
        F.col("_c._pred").alias("_pred"),
        "_y",
    )
    g = ex.groupBy("threshold_bp").agg(
        F.sum(F.when(F.col("_pred") & F.col("_y"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("_pred") & ~F.col("_y"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("_pred") & F.col("_y"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("_pred") & ~F.col("_y"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return g.select(
        "threshold_bp",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            (F.col("tp") + F.col("fp")) > 0,
            F.expr("(tp * 10000) div (tp + fp)"),
        ).alias("precision_bp"),
        F.when(
            (F.col("tp") + F.col("fn")) > 0,
            F.expr("(tp * 10000) div (tp + fn)"),
        ).alias("recall_bp"),
        F.when(
            (2 * F.col("tp") + F.col("fp") + F.col("fn")) > 0,
            F.expr("(2 * tp * 10000) div (2 * tp + fp + fn)"),
        ).alias("f1_bp"),
    )


def weighted_percentiles(
    df: DataFrame,
    value_col: str | Column,
    weight_col: str | Column,
    probs_bp: "Sequence[int]",
) -> DataFrame:
    """B11 — EXACT weighted percentiles with no global sort: the
    weighted p-quantile is the smallest value whose cumulative weight
    reaches p of the total — e.g. the token-weighted median document
    length answers "half the TOKENS live in docs shorter than this",
    which doc-weighted quantiles (every ``percentile()`` builtin) get
    wrong whenever length and weight correlate — i.e. always, for
    corpora. No builtin computes this; the naive form is a global sort
    plus a running-sum window over the full table.

      p_bp           requested percentile in basis points
      value          the exact quantile: min v with
                     cumweight(v) · 10000 >= W · p_bp (the left-
                     continuous inverse CDF — deterministic, no
                     interpolation, so the value is an ORIGINAL datum
                     and engine-exact by selection, not arithmetic)
      cum_weight     exact cumulative weight at that value
      total_weight   W

    The comparison is multiplied out, never divided — and lifted to
    DECIMAL(38,0): at 10^12 rows of 10^6-token docs, W·p_bp ≈ 10^22 ≫
    2^63. Weights must be non-negative integers (casts to long; NULL
    or <=0-weight rows drop — a zero-weight row cannot move any
    quantile).

    Plan (the rank_sum/ks/auc machinery): per-distinct-value weight
    sums (map-side combined) through :func:`_cumulative_by_value`, then
    one aggregate selects every requested p — global order statistics
    with per-bucket parallelism throughout.
    """
    if not probs_bp:
        raise ValueError("probs_bp must be non-empty")
    if any(not 0 < int(p) <= 10000 for p in probs_bp):
        raise ValueError("probs_bp entries must be in (0, 10000]")
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    wc = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    base = df.select(
        vc.alias("_v"), wc.cast("long").alias("_w")
    ).filter(F.col("_v").isNotNull() & (F.col("_w") > 0))
    per = base.groupBy("_v").agg(F.sum("_w").cast("long").alias("_pw"))
    cum, totals = _cumulative_by_value(per, ["_pw"])
    # r13 optimization (guide §2.4 / §1.2): ONE pass for every requested
    # percentile. The former per-``p`` filter→agg→union re-traversed the
    # whole cum table (and its upstream windows) once per percentile,
    # and the total weight re-scanned ``base``; now W comes from the
    # ≤_RANK_BUCKETS-row bucket-total table (the same long sum, grouped) and a
    # single aggregate computes every quantile via a conditional min_by
    # (rows below the threshold contribute a NULL ordering key, which
    # min_by ignores). Values identical — same left-continuous inverse-
    # CDF selection per p; output rows emitted in probs_bp order via one
    # inline() over the aggregate row. Measured 3 probs: 3 traversals +
    # a base re-scan → 1 traversal (1.1 s → 0.5 s warm at sf0.1).
    total = totals.agg(F.sum("_pw").cast("long").alias("_W"))
    j = cum.crossJoin(F.broadcast(total))
    aggs = []
    for p in probs_bp:
        cond = F.expr(
            f"CAST(_pw_cum AS DECIMAL(38,0)) * 10000"
            f" >= CAST(_W AS DECIMAL(38,0)) * {int(p)}"
        )
        aggs.append(
            F.min_by(
                F.struct(
                    F.col("_v").alias("value"),
                    F.col("_pw_cum").alias("cum_weight"),
                ),
                F.when(cond, F.col("_v")),
            ).alias(f"_hit_{int(p)}")
        )
    row = j.agg(*aggs, F.max("_W").alias("_W"))
    hits = F.array(
        *[
            F.struct(
                F.lit(int(p)).cast("long").alias("p_bp"),
                F.col(f"_hit_{int(p)}.value").alias("value"),
                F.col(f"_hit_{int(p)}.cum_weight").alias("cum_weight"),
                F.col("_W").alias("total_weight"),
            )
            for p in probs_bp
        ]
    )
    return row.select(F.inline(hits))


#: Benford's-law expected first-digit shares in basis points:
#: round(log10(1 + 1/d) * 10000) for d = 1..9 — static integer literals so
#: any engine reproduces the audit exactly (no cross-engine log()).
BENFORD_BP = (3010, 1761, 1249, 969, 792, 669, 580, 512, 458)


def benford_audit(df: DataFrame, amount_units: Column) -> DataFrame:
    """B28 — Benford's-law first-digit audit of a positive INTEGRAL
    amount column (cents/units — pass the value through the module's
    exact-cents conversion first; first-significant-digit is invariant
    under the ×100 scaling, which is the point of Benford). The fraud/
    fat-finger screen for financial and metering data: organic amounts
    follow log10(1+1/d); fabricated or clamped ones don't.

    The first digit comes from the INTEGER's decimal string (leading
    character) — never from float formatting, which engines render
    differently. Rows with amount <= 0 are excluded (Benford is defined
    on positive magnitudes; stated contract). Expected shares are the
    static :data:`BENFORD_BP` literals; observed shares are integral
    basis points over the retained rows (DECIMAL(38,0) div — the
    row-count × 10^4 overflow class stays lifted).

    Output: one row per digit 1..9 (digits with no rows included at
    n=0): (digit int, n long, observed_bp long, expected_bp long,
    dev_bp long = observed − expected). Plan: one scan, one 9-group
    hash-aggregate, broadcast digit spine — nothing shuffles but 9 rows.
    """
    spine = (
        df.sparkSession.range(1, 10)
        .select(F.col("id").cast("int").alias("digit"))
    )
    pos = df.select(amount_units.cast("decimal(38,0)").alias("a")).filter(
        F.col("a") > 0
    )
    counts = (
        pos.select(
            F.substring(F.col("a").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = pos.agg(F.count(F.lit(1)).alias("_tot"))
    exp_map = F.create_map(
        *[
            x
            for d, bp in enumerate(BENFORD_BP, start=1)
            for x in (F.lit(d), F.lit(bp))
        ]
    )
    return (
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.when(F.col("_tot") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(CAST(coalesce(n, 0) AS DECIMAL(38,0)) * 10000)"
                    " div _tot"
                ).cast("long")
            )
            .alias("observed_bp"),
            exp_map[F.col("digit")].cast("long").alias("expected_bp"),
        )
        .withColumn(
            "dev_bp", (F.col("observed_bp") - F.col("expected_bp")).cast("long")
        )
    )


def group_mode(
    df: DataFrame,
    keys: "Sequence[str]",
    value_col: str,
    out_col: str = "mode_value",
) -> DataFrame:
    """B11 — exact per-group mode with a stated tiebreak: the most
    frequent ``value_col`` per key group, ties resolved to the SMALLEST
    value (count DESC, value ASC — every engine returns the identical
    winner; an unspecified-tie mode() is nondeterministic by
    partitioning). NULL values count as a candidate like any other
    (they sort last in the tiebreak).

    Plan: one (keys, value) hash-aggregate (map-side combined), one
    top-1 window over the AGGREGATE (|keys × distinct values| rows, not
    data rows). Returns (keys..., out_col, n long).
    """
    from pyspark.sql import Window

    gc = list(keys)
    counts = df.groupBy(*gc, F.col(value_col).alias(out_col)).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(*gc).orderBy(
        F.col("n").desc(), F.col(out_col).asc_nulls_last()
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def match_one_to_one(
    a: DataFrame,
    b: DataFrame,
    keys: "Sequence[str]",
    order_a: "Sequence[Column]",
    order_b: "Sequence[Column]",
    seq_col: str = "k",
) -> DataFrame:
    """B21 — 1:1 reconciliation matching: within each key group, pair the
    k-th row of ``a`` (under ``order_a``) with the k-th row of ``b``
    (under ``order_b``) — the accounting/event-matching primitive
    (payments↔invoices, clicks↔conversions) where a plain equi-join
    would fan out duplicates M×N and double-count. Rows beyond the
    shorter side stay unmatched (inner semantics here; anti-join either
    side against the result for the break report).

    Orders MUST be deterministic total orders within the key (pass a
    unique tiebreak) — that is what makes the pairing engine-exact.
    Plan: one rank window per side on the same key partitioning, one
    equi-join on (keys, k); at scale both shuffles and the join share
    the key hash partitioning.

    Non-key columns the two sides SHARE (e.g. both carry ``ts``) are
    suffixed ``_a`` / ``_b`` in the output — without that the joined
    frame holds two same-named columns and any later reference raises
    AMBIGUOUS_REFERENCE. Suffixing happens AFTER the rank windows, so
    ``order_a`` / ``order_b`` refer to the original names.
    """
    from pyspark.sql import Window

    gc = list(keys)
    if seq_col in a.columns or seq_col in b.columns:
        raise ValueError(
            f"seq_col {seq_col!r} already exists on an input side; "
            "pass a different seq_col (row_number would silently "
            "overwrite the business column)"
        )
    wa = Window.partitionBy(*gc).orderBy(*order_a)
    wb = Window.partitionBy(*gc).orderBy(*order_b)
    ra = a.withColumn(seq_col, F.row_number().over(wa))
    rb = b.withColumn(seq_col, F.row_number().over(wb))
    shared = [
        c
        for c in a.columns
        if c in set(b.columns) and c not in gc and c != seq_col
    ]
    taken = set(a.columns) | set(b.columns)
    clash = [
        c for c in shared if f"{c}_a" in taken or f"{c}_b" in taken
    ]
    if clash:
        raise ValueError(
            f"match_one_to_one suffix collision: renaming {clash} to _a/_b "
            "would shadow existing columns; project or rename them first"
        )
    for c in shared:
        ra = ra.withColumnRenamed(c, f"{c}_a")
        rb = rb.withColumnRenamed(c, f"{c}_b")
    return ra.join(rb, [*gc, seq_col])
