"""Deterministic hash-based sampling — the reproducible form of B22.

``randomSplit``/``sample`` are seed-deterministic only for a FIXED
partitioning: the same data re-partitioned (different cluster size, AQE
coalesce, a compaction) yields a different sample, which is fatal for
training-data reproducibility ("which docs were in the train split of run
417?"). The hash family here derives a uniform [0,1) per ROW from md5 of
its key + a salt, so membership is a pure function of the data — stable
across cluster sizes, partitionings, and engines (md5 is md5 everywhere,
which also makes every operator below exactly DuckDB-oracle-able, unlike
engine-seeded RNG sampling).

Scale posture: all three operators are stateless row-local filters —
no shuffle, no RNG state, embarrassingly parallel, pushdown-friendly
(the filter sits directly on the scan). Cost is one md5 per row; at
100 TB prefer a numeric key column (8-byte hash input) over hashing
document bodies.

Reference seed: SplitData's random train/test split
(``R/DataFrameOperationR.R:144-168``) — generalized from R's
``sample()`` (irreproducible across environments) to content-hash
splitting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_uniform",
    "hash_sample",
    "hash_split",
    "source_mix",
    "leakage_safe_split",
    "cap_per_source",
    "weighted_sample",
    "temperature_mix",
    "token_budget_mix",
    "epoch_shard_order",
    "kfold_assign",
    "stratified_kfold_assign",
    "leakage_safe_kfold",
    "temporal_split",
    "shard_manifest",
    "negative_samples",
    "poisson_replicates",
    "rolling_origin_folds",
    "class_balance",
]

#: 2^32 — the md5-prefix domain size.
_HASH_DOMAIN = float(1 << 32)


def hash_uniform(keys: Sequence[str | Column], salt: str = "") -> Column:
    """Uniform [0,1) double derived from md5 of the key columns + salt.

    The first 8 hex chars of md5 → 32-bit int → divide by 2^32. Exactly
    reproducible in any engine with md5 (DuckDB oracle:
    ``('0x' || substring(md5(expr), 1, 8))::BIGINT / 4294967296.0``).
    Changing ``salt`` draws an independent uniform — the "new epoch /
    new experiment" knob.
    """
    cols = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string")
            for c in keys]
    # F.concat (null-PROPAGATING), not concat_ws (null-skipping): a NULL
    # key must yield a NULL uniform — the row then fails every `< frac`
    # comparison and is dropped, exactly as the DuckDB oracle expression
    # (CAST(k AS VARCHAR) || '|' || salt) evaluates. concat_ws would
    # silently hash the remaining parts and also collapse NULL with ''.
    parts: list[Column] = []
    for c in cols:
        parts += [c, F.lit("|")]
    key = F.concat(*parts, F.lit(salt))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") / F.lit(
        _HASH_DOMAIN
    )


def hash_sample(
    df: DataFrame,
    fraction: float,
    keys: Sequence[str | Column],
    salt: str = "",
) -> DataFrame:
    """B22 — deterministic Bernoulli(fraction) sample: keep rows whose
    hash-uniform falls below ``fraction``. Membership depends only on the
    key values — re-running on any cluster, any partitioning, any engine
    selects the identical rows."""
    return df.filter(hash_uniform(keys, salt) < F.lit(float(fraction)))


def hash_split(
    df: DataFrame,
    weights: Sequence[float],
    keys: Sequence[str | Column],
    salt: str = "",
) -> list[DataFrame]:
    """B22 — deterministic train/val/test split: the [0,1) line is cut into
    contiguous intervals proportional to ``weights``; a row belongs to the
    interval its hash-uniform lands in. Splits are exactly disjoint and
    exactly exhaustive BY CONSTRUCTION (one hash, interval membership) —
    not merely in expectation like seeded randomSplit."""
    from fractions import Fraction

    # Exact cumulative boundaries: accumulating floats drifts (0.8 + 0.1 =
    # 0.9000000000000001) while oracle SQL pins exact literals like 0.9.
    # Today the drift is far below the hash granularity (2^-32), but the
    # invariant should not depend on that — sum exact Fractions and convert
    # each boundary to float ONCE.
    fracs = [Fraction(w).limit_denominator(10**9) for w in weights]
    total = sum(fracs)
    u = hash_uniform(keys, salt)
    out: list[DataFrame] = []
    acc = Fraction(0)
    for i, w in enumerate(fracs):
        lo = float(acc / total)
        acc += w
        upper = F.lit(1.1) if i == len(fracs) - 1 else F.lit(float(acc / total))
        out.append(df.filter((u >= F.lit(lo)) & (u < upper)))
    return out


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: Sequence[float],
    labels: Sequence[str],
    id_col: str = "doc_id",
    salt: str = "",
    block_col: str | None = None,
) -> DataFrame:
    """North-star — near-dup-aware train/val/test split: documents
    connected by ``pairs`` (near-duplicate candidates, e.g.
    ``jaccard_pairs``/``minhash_candidates`` output with id_a/id_b) are
    forced into the SAME split by hashing the duplicate-cluster
    representative instead of the document id. Splitting on raw doc ids
    leaks: a near-copy of a training document lands in eval and inflates
    every metric — this is the standard decontamination guard between
    splits (the cross-corpus guard is ``decontaminate``).

    Composition of verified pieces: connected components over the pair
    graph (iterative min-label, O(diameter) shuffles) → left join back
    (singletons keep their own id as the cluster key) → the
    :func:`hash_uniform` assignment — so the whole thing, components
    included, is exactly DuckDB-oracle-able (recursive CTE + md5).

    Returns (id_col, split_key, split) for every document with a non-NULL
    ``id_col``. NULL-id rows are dropped — the same NULL contract as
    :func:`hash_split` / :func:`hash_uniform` (a NULL key hashes to NULL
    and matches no interval); without the filter the ``otherwise()``
    branch would silently file every unkeyed row under the LAST label.

    ``block_col`` forwards to ``connected_components`` — blocked-kernel
    components when ``pairs`` carries a node-disjoint blocking key (e.g.
    jaccard pairs grouped by source with ``keep_group=True``).
    """
    if len(weights) != len(labels) or not labels:
        raise ValueError("need one label per weight")
    from fractions import Fraction

    from ddataframeoperation_spark.operators.dedup import connected_components

    comp = connected_components(pairs, block_col=block_col)
    d = df.select(id_col).filter(F.col(id_col).isNotNull()).join(
        comp, F.col(id_col) == comp["id"], "left"
    )
    key = F.coalesce(F.col("component"), F.col(id_col)).alias("split_key")
    u = hash_uniform([F.col("split_key")], salt)
    fracs = [Fraction(w).limit_denominator(10**9) for w in weights]
    total = sum(fracs)
    expr, acc = None, Fraction(0)
    for w, lab in zip(fracs[:-1], labels[:-1]):
        acc += w
        cond = u < F.lit(float(acc / total))
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    split = (
        expr.otherwise(labels[-1]) if expr is not None else F.lit(labels[-1])
    )
    return d.select(id_col, key).select(
        id_col, "split_key", split.alias("split")
    )


def source_mix(
    df: DataFrame,
    fractions: dict[str, float],
    source_col: str,
    keys: Sequence[str | Column],
    salt: str = "",
) -> DataFrame:
    """North-star — corpus mixing: keep a per-source deterministic fraction
    (e.g. {"web": 0.1, "books": 1.0, "code": 0.5}) — the standard
    training-mixture downsampling step. One row-local hash + a broadcast
    CASE over the source column; sources absent from ``fractions`` are
    dropped (fraction 0.0). No shuffle."""
    expr = None
    for src, f in sorted(fractions.items()):
        cond = F.col(source_col) == src
        val = F.lit(float(f))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    frac = expr.otherwise(F.lit(0.0)) if expr is not None else F.lit(0.0)
    return df.filter(hash_uniform(keys, salt) < frac)


def cap_per_source(
    df: DataFrame,
    per_source: int,
    source_col: str = "source",
    order_by: Sequence[Column] | None = None,
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """North-star — per-source/domain quota: keep at most ``per_source``
    rows per ``source_col``, best-ranked first by ``order_by`` (quality
    desc, length desc, …) with a deterministic ``tiebreak_col`` so the
    kept set is a pure function of the data. This is the standard
    web-corpus defense against a single domain (or scraped mirror)
    dominating the training mixture — the cap is the complement of
    :func:`source_mix`'s proportional downsampling: quotas bound the
    absolute contribution, fractions bound the relative one.

    One hash-partitioned window (row_number per source) — a single
    shuffle on the source key, no global sort. Skew note for 100 TB: a
    mega-domain makes one hot partition; since only the TOP ``per_source``
    rows survive, pre-aggregate with a per-partition local top-k (the
    TakeOrdered trick) or salt the window key and re-rank the k·salts
    survivors when one domain exceeds executor memory.
    """
    from pyspark.sql import Window

    if per_source < 1:
        raise ValueError("per_source must be >= 1")
    order = list(order_by or []) + [F.col(tiebreak_col).asc()]
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_source)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str | Column,
    keys: Sequence[str | Column],
    salt: str = "",
    id_order: Sequence[str] = (),
) -> DataFrame:
    """North-star — deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row draws its hash-uniform ``u`` and
    ranks by ``u^(1/w)``; the k largest ranks are the sample. Inclusion
    probability is proportional to weight, yet membership is a pure
    function of the data + salt — the weighted counterpart of
    :func:`hash_sample` (same reproducibility story: any cluster, any
    partitioning, any engine draws the SAME sample).

    Plan: row-local key computation + ``TakeOrdered`` top-k — no shuffle,
    no RNG state, scales like a scan. Rows with NULL or non-positive
    weight are dropped (they have no defined inclusion probability).

    Cross-engine note: ``u`` is md5-exact everywhere, but ``pow`` is
    libm-dependent at the last ulp, so the rank is rounded to 9 decimals
    with ``id_order`` as the deterministic tiebreak before the top-k cut.

    Heavy-weight regime caveat: for weights w >~ 1e8, ``u^(1/w)`` crowds
    into [1 - 1e-8, 1] and the 9-decimal rounding collapses those ranks to
    1.0 — selection AMONG such rows degrades to the ``id_order`` tiebreak
    rather than weight-proportional draws (they still beat all light rows,
    which is usually the intent). For corpora where many rows carry
    astronomically large weights, pre-scale weights (e.g. divide by their
    gcd/median) so 1/w stays above ~1e-8.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = w.cast("double")
    u = hash_uniform(keys, salt)
    rank = F.round(F.pow(u, F.lit(1.0) / w), 9).alias("_rank")
    order = [F.col("_rank").desc()] + [F.col(c).asc() for c in id_order]
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("_rank", rank)
        .orderBy(*order)
        .limit(int(k))
        .drop("_rank")
    )


def temperature_mix(
    df: DataFrame,
    total: int,
    source_col: str,
    keys: Sequence[str | Column],
    salt: str = "",
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """North-star — temperature-scaled source rebalancing (the multilingual
    / multi-domain mixing rule: sample counts proportional to
    ``n_s^tau`` with tau = 0.5, so small sources are up-weighted relative
    to their share and mega-sources damped — the standard alternative to
    hand-tuned :func:`source_mix` fractions).

    Per-source quota: ``max(1, round(total * sqrt(n_s) / sum sqrt(n)))``;
    within each source the quota slots go to the rows with the smallest
    hash-uniform (deterministic, engine-stable). tau is fixed at 0.5
    because ``sqrt`` is IEEE-correctly-rounded — the whole operator is then
    EXACTLY reproducible cross-engine, with no libm tolerance anywhere
    (md5 uniforms + sqrt + integer arithmetic only).

    Plan: tiny per-source count agg (map-side combined) → broadcast quota
    join → one row_number window per source. Two shuffles total, both on
    ``source_col``; AQE can reuse the exchange. Skew: only ``quota`` rows
    survive per source, so a hot source costs one window partition — use
    the local-top-k pre-filter from :func:`cap_per_source` if a single
    source exceeds executor memory.
    """
    from pyspark.sql import Window

    if total < 1:
        raise ValueError("total must be >= 1")
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n"))
    # Un-partitioned window BOUND: it runs over the per-source COUNT
    # table — |distinct sources| rows (a categorical mixing dimension,
    # tens not millions), never the data.
    wsum = Window.partitionBy()
    quotas = counts.select(
        F.col(source_col),
        F.greatest(
            F.lit(1),
            F.round(
                F.lit(float(total))
                * F.sqrt(F.col("_n"))
                / F.sum(F.sqrt(F.col("_n"))).over(wsum)
            ).cast("long"),
        ).alias("_quota"),
    )
    u = hash_uniform(keys, salt)
    w = Window.partitionBy(source_col).orderBy(
        u.asc(), F.col(tiebreak_col).asc()
    )
    ranked = df.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), on=source_col)
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def token_budget_mix(
    df: DataFrame,
    budgets: "int | dict[str, int]",
    token_col: str | Column | None = None,
    source_col: str = "source",
    text_col: str = "text",
    tiebreak_col: str = "doc_id",
    salt: str = "",
    buckets: int = 256,
    count_out: str | None = None,
) -> DataFrame:
    """North-star — TOKEN-budgeted corpus mixing: keep, per source, a
    deterministic uniform subsample whose cumulative token count stays
    within that source's budget. Training mixtures are specified in
    tokens, not documents (a source's docs can be 10× longer than
    another's), so this is the op that actually realizes a published
    data-mixture table; it complements :func:`cap_per_source` (doc-count
    quota) and :func:`temperature_mix` (doc-count rebalance).

    Semantics: within each source, order docs by their hash-uniform (an
    engine-stable pseudo-random shuffle; ``salt`` = new draw) with
    ``tiebreak_col`` breaking exact hash ties, and keep the prefix whose
    INCLUSIVE cumulative token count is <= the budget — strictly a
    PREFIX: the boundary-crossing doc AND everything after it in the
    hash order are dropped, so the budget is a hard cap and membership
    stays monotone in the budget (raise it and the kept set only grows).
    Contrast the streaming
    :func:`~ddataframeoperation_spark.streaming.stateful.token_budget_admission`,
    which is GREEDY (a rejected doc does not consume budget; later
    smaller docs may still land).
    ``budgets`` is one int for every source or a {source: budget} dict —
    with a dict, sources absent from it are dropped (the mixture is
    explicit). Rows with a NULL source, token count, or hash key are
    dropped; a NEGATIVE token count raises in-plan (it would make the
    cumulative sum non-monotone and silently void the hard cap).
    Token counts come from ``token_col`` if given (e.g. a real
    tokenizer's output), else the whitespace/BPE-proxy count of
    ``text_col``; pass ``count_out`` to keep the computed per-row token
    count as an output column (it is already paid for — callers realizing
    a mixture table always need it, and recomputing it downstream would
    re-tokenize the kept corpus).

    Plan (the skew-proof two-level prefix-sum shape, same as
    ``pareto_frontier_2d``): hash-uniforms bucket each row into one of
    ``buckets`` u-ranges; per-(source, bucket) token sums aggregate
    map-side; the cross-bucket prefix runs on the |sources|×``buckets``
    table (broadcast back); the data-sized running sum is a window
    PARTITIONED by (source, bucket). A mega-source therefore spreads
    over ``buckets`` parallel partitions instead of one hot one — no
    single-task sort of any source at 100 TB. Exactness: equal uniforms
    always share a bucket, so bucket-major (u, tiebreak) order equals
    the global per-source order.
    """
    from pyspark.sql import Window

    from ddataframeoperation_spark.operators.text import token_count

    if token_col is None:
        ntok = token_count(text_col)
    elif isinstance(token_col, str):
        ntok = F.col(token_col)
    else:
        ntok = token_col
    t = (
        df.withColumn("_ntok", ntok.cast("long"))
        .withColumn("_u", hash_uniform([tiebreak_col], salt))
        .filter(
            F.col("_ntok").isNotNull()
            # Negative token counts would make the cumulative sum
            # non-monotone and break the hard-cap/prefix contract
            # (rows PAST the budget crossing could be kept) — fail
            # loudly in-plan instead of silently over-admitting. The
            # message is a CONSTANT: a per-row concat here measured
            # +20% on the whole operator at sf0.1 (the expression is
            # built into the hot filter), the literal costs nothing.
            & F.when(
                F.col("_ntok") >= 0, F.lit(True)
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "token_budget_mix: negative token count in "
                        "token_col"
                    )
                )
            )
            & F.col("_u").isNotNull()
            & F.col(source_col).isNotNull()
        )
    )
    if isinstance(budgets, int):
        if budgets < 0:
            raise ValueError("budget must be >= 0")
        t = t.withColumn("_budget", F.lit(budgets).cast("long"))
    else:
        bad = {k: v for k, v in budgets.items() if int(v) < 0}
        if bad:
            raise ValueError(f"budgets must be >= 0, got {bad}")
        b = df.sparkSession.createDataFrame(
            [(str(k), int(v)) for k, v in budgets.items()],
            f"{source_col} string, _budget long",
        )
        t = t.join(F.broadcast(b), on=source_col)
    t = t.withColumn("_bkt", F.floor(F.col("_u") * buckets).cast("int"))
    per_bkt = t.groupBy(source_col, "_bkt").agg(F.sum("_ntok").alias("_tok"))
    w_b = (
        Window.partitionBy(source_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = per_bkt.select(
        source_col,
        "_bkt",
        F.coalesce(F.sum("_tok").over(w_b), F.lit(0)).alias("_before"),
    )
    w_in = (
        Window.partitionBy(source_col, "_bkt")
        .orderBy(F.col("_u").asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        t.join(F.broadcast(prefix), on=[source_col, "_bkt"])
        .withColumn("_cum", F.col("_before") + F.sum("_ntok").over(w_in))
        .filter(F.col("_cum") <= F.col("_budget"))
    )
    if count_out is not None:
        kept = kept.withColumn(count_out, F.col("_ntok"))
    return kept.drop("_ntok", "_u", "_bkt", "_budget", "_before", "_cum")


def epoch_shard_order(
    df: DataFrame,
    epoch: int,
    n_shards: int,
    keys: Sequence[str | Column] = ("doc_id",),
    tiebreak_col: str = "doc_id",
    salt: str = "",
    shard_col: str = "shard",
    position_col: str = "position",
) -> DataFrame:
    """North-star — the training last mile: a deterministic per-epoch
    (shard, position) assignment so ``n_shards`` distributed readers each
    consume a disjoint, reproducibly-ordered slice of the corpus, and a
    new ``epoch`` draws an independent global permutation (the standard
    epoch-reshuffle). Resumable by construction: position is a pure
    function of the data + (epoch, salt), so a reader that died at
    position p restarts at p+1 with no coordination.

    Mechanics: hash-uniform keyed by ``keys`` with the epoch folded into
    the salt → ``shard = floor(u * n_shards)`` (uniform in expectation,
    deterministic), ``position`` = dense per-shard rank by
    ``(u, tiebreak)``. Rows with a NULL hash key are dropped (they have
    no stable identity to order by).

    PRECONDITION: ``tiebreak_col`` must uniquely identify rows. Two rows
    sharing the tiebreak value (and hence, with the default keys, the
    same hash-uniform too) would receive their two positions in
    arbitrary task order, and a reader resuming "at position p+1" on a
    re-run could skip one and read the other twice — exactly what the
    operator exists to prevent. Dedup first (B31) if the id column can
    repeat; the determinism contract holds only under uniqueness.

    Plan: one hash exchange on the shard id + per-shard window sort —
    shards are the window partitions, so parallelism IS the reader
    fan-out; no global sort. At 100 TB pick ``n_shards`` >= cluster
    cores so no shard exceeds one task's memory (the same knob the
    training job needs anyway).
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if epoch < 0:
        raise ValueError("epoch must be >= 0")
    u = hash_uniform(keys, f"{salt}|epoch{int(epoch)}")
    t = df.withColumn("_u", u).filter(F.col("_u").isNotNull())
    t = t.withColumn(
        shard_col, F.floor(F.col("_u") * n_shards).cast("int")
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.col("_u").asc(), F.col(tiebreak_col).asc()
    )
    return t.withColumn(
        position_col, F.row_number().over(w).cast("long")
    ).drop("_u")


def kfold_assign(
    df: DataFrame,
    k: int,
    keys: Sequence[str | Column],
    salt: str = "",
    fold_col: str = "fold",
) -> DataFrame:
    """B22 — deterministic k-fold assignment for cross-validation: fold =
    floor(hash_uniform * k), so every row lands in exactly one of k folds
    as a pure function of its key (re-runs, re-partitions, and other
    engines reproduce the identical folds — the property seeded
    randomSplit cannot give). Train/test for fold i = (fold != i, fold
    == i); folds are disjoint and exhaustive by construction.

    Row-local (one md5, no shuffle); NULL keys get a NULL fold and should
    be filtered by the caller (the module's NULL contract).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    u = hash_uniform(keys, salt)
    # u < 1 strictly, so floor(u*k) is always in [0, k-1]; the least()
    # guard documents the boundary rather than trusting it. The explicit
    # isNotNull() gate keeps the module's NULL contract: least() SKIPS
    # null arguments, so an unguarded least(NULL, k-1) would silently
    # file every NULL-key row under fold k-1 instead of fold NULL.
    fold = F.when(
        u.isNotNull(), F.least(F.floor(u * k), F.lit(k - 1))
    ).cast("int")
    return df.withColumn(fold_col, fold)


def leakage_safe_kfold(
    df: DataFrame,
    pairs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
    block_col: str | None = None,
) -> DataFrame:
    """North-star — near-dup-aware k-fold CV (the GroupKFold of corpus
    work): documents connected by ``pairs`` share a duplicate-cluster
    key, and the fold is assigned from THAT key, so a near-copy of a
    training document can never sit in the held-out fold and inflate CV
    metrics — :func:`leakage_safe_split`'s guarantee carried over to
    cross-validation. Same composition of verified pieces (connected
    components → cluster key → md5 fold assignment), so exactly
    oracle-able end to end; folds are disjoint and exhaustive by
    construction, and NULL-id rows are dropped (module NULL contract).

    Returns (id_col, fold_key, fold) with fold in [0, k).
    ``block_col`` forwards to ``connected_components`` (blocked-kernel
    components, same contract as :func:`leakage_safe_split`).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from ddataframeoperation_spark.operators.dedup import connected_components

    comp = connected_components(pairs, block_col=block_col)
    d = df.select(id_col).filter(F.col(id_col).isNotNull()).join(
        comp, F.col(id_col) == comp["id"], "left"
    )
    key = F.coalesce(F.col("component"), F.col(id_col))
    u = hash_uniform([key], salt)
    fold = F.least(F.floor(u * k), F.lit(k - 1)).cast("int")
    return d.select(
        F.col(id_col),
        key.alias("fold_key"),
        fold.alias("fold"),
    )


def temporal_split(
    df: DataFrame,
    time_col: str,
    cutoff: str,
    embargo_seconds: float = 0.0,
    key_col: str | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Time-based train/eval split with an embargo gap and an optional
    key-level purge — the TEMPORAL leakage gate beside
    :func:`leakage_safe_split`'s content-based one. Train = rows strictly
    before ``cutoff``; eval = rows at or after ``cutoff + embargo``; rows
    inside the embargo window are DROPPED (near-boundary rows are the ones
    whose context straddles the split). With ``key_col``, train
    additionally drops every key that appears in eval — no entity
    contributes to both sides (the purged/embargoed split of financial CV,
    equally the right shape for user-level holdouts).

    Plan: two pushed-down time filters on one scan lineage + one left-anti
    equi-join on the key (shuffles only the pre-cutoff slice against the
    distinct eval keys) + union. No window, no driver collection;
    partition pruning applies when the table is date-partitioned.
    Deterministic: membership is a pure function of (time, key-set), so
    the split is reproducible across engines and partitionings — which is
    what the DuckDB oracle certifies.

    The embargo boundary is exact integer-microsecond arithmetic
    (``unix_micros``), so ``ts == cutoff + embargo`` lands in eval on
    every engine.

    Dirty-input contract: rows with a NULL ``time_col`` satisfy neither
    time predicate and are dropped from BOTH splits — an undatable row
    cannot be placed on either side of a time boundary. A NULL
    ``key_col`` in eval never purges anything (the anti-join key never
    matches NULL), and a NULL-key train row survives the purge for the
    same reason.
    """
    cut = F.lit(cutoff).cast("timestamp")
    t = F.col(time_col)
    train = df.filter(t < cut)
    ev = df.filter(
        F.unix_micros(t)
        >= F.unix_micros(cut) + F.lit(int(round(embargo_seconds * 1e6)))
    )
    if key_col is not None:
        train = train.join(ev.select(key_col).distinct(), on=key_col, how="left_anti")
    return train.withColumn(split_col, F.lit("train")).unionByName(
        ev.withColumn(split_col, F.lit("eval"))
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    key_cols: Sequence[str | Column],
    token_col: str | Column | None = None,
    salt: str = "",
) -> DataFrame:
    """B22/B29 — reproducible training-shard manifest: assign every row a
    deterministic shard (md5 of the keys + salt, same hash family as
    :func:`hash_uniform` — engine- and partitioning-stable), and emit per
    shard the document count, total token budget, and an ORDER-INSENSITIVE
    content digest (the sum of each member's 48-bit key hash). Two
    independently-built copies of a shard — different cluster, different
    engine, different day — match iff their (n_docs, total_tokens,
    id_digest) rows match: the "did every reader build the same shard"
    check distributed training needs before an epoch starts.

    The digest is a SUM of per-row hashes, so it is insensitive to row
    order and partitioning by construction (addition commutes) and needs
    no sort anywhere; 48-bit summands keep the total well inside a 64-bit
    long up to ~10^13 rows per shard. One scan, one map-side-combined
    aggregate of ``n_shards`` rows.

    NULL keys hash to NULL, land in no shard, and are dropped — the same
    contract as every hash_* operator here (and the oracle expression).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    u = hash_uniform(key_cols, salt)
    shard = F.floor(u * n_shards).cast("int")
    cols = [
        F.col(c).cast("string") if isinstance(c, str) else c.cast("string")
        for c in key_cols
    ]
    parts: list[Column] = []
    for c in cols:
        parts += [c, F.lit("|")]
    h48 = F.conv(
        F.substring(F.md5(F.concat(*parts, F.lit(salt))), 9, 12), 16, 10
    ).cast("long")
    ntok = (
        F.lit(0).cast("long")
        if token_col is None
        else (
            F.col(token_col) if isinstance(token_col, str) else token_col
        ).cast("long")
    )
    return (
        df.select(shard.alias("shard"), h48.alias("_h"), ntok.alias("_t"))
        .filter(F.col("shard").isNotNull())
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("total_tokens"),
            F.sum("_h").cast("long").alias("id_digest"),
        )
    )


def negative_samples(
    pairs: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    anchor_col: str = "id_a",
    positive_col: str = "id_b",
    buckets: int = 64,
    salt: str = "",
) -> DataFrame:
    """B22 — deterministic negative sampling for contrastive training:
    turn (anchor, positive) pairs — near-dup output, citation links,
    click pairs — into (anchor, positive, neg_rank, negative) triplet
    rows, with each negative drawn pseudo-randomly from the corpus by
    pure hash arithmetic. Rerunning on any engine, any partitioning,
    any day draws the IDENTICAL negatives — the reproducibility
    property `df.sample()` cannot give.

    Draw i for an anchor: hash the (anchor, i, salt) tuple to a corpus
    BUCKET (the corpus is pre-bucketed by the same md5 family as
    :func:`hash_uniform`), then take the bucket member minimizing
    md5(member, anchor, i) — a per-draw pseudo-random pick, not the
    bucket's constant minimum — excluding the anchor and its positive.

    Scale contract (the same rule as semantic_join's cells): candidate
    cost per draw is the bucket population, so SIZE ``buckets`` ∝
    corpus. All joins are equi-joins on the bucket id; no global index,
    no zipWithIndex, no data-sized window. A draw whose bucket holds
    only the anchor/positive yields no row (inner-join semantics) —
    with buckets ≪ corpus this is measure-zero.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if buckets < 1:
        raise ValueError("buckets must be >= 1")

    def _h32(col: Column, extra: Column | str) -> Column:
        e = F.lit(extra) if isinstance(extra, str) else extra
        return F.conv(
            F.substring(F.md5(F.concat(col.cast("string"), F.lit("|"), e)), 1, 8),
            16,
            10,
        ).cast("long")

    corp = corpus.select(F.col(id_col).alias("_cid")).withColumn(
        "_bkt", F.pmod(_h32(F.col("_cid"), salt), F.lit(buckets))
    )
    drawn = pairs.select(
        F.col(anchor_col).alias("_a"), F.col(positive_col).alias("_p")
    ).withColumn("_i", F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])))
    drawn = drawn.withColumn(
        "_bkt",
        F.pmod(
            _h32(F.col("_a"), F.concat(F.lit("#"), F.col("_i").cast("string"), F.lit(salt))),
            F.lit(buckets),
        ),
    )
    cand = drawn.join(corp, on="_bkt").filter(
        (F.col("_cid") != F.col("_a")) & (F.col("_cid") != F.col("_p"))
    )
    pick = _h32(
        F.col("_cid"),
        F.concat(F.col("_a").cast("string"), F.lit("#"), F.col("_i").cast("string")),
    )
    best = cand.groupBy("_a", "_p", "_i").agg(
        F.min(F.struct(pick.alias("_h"), F.col("_cid").alias("_c"))).alias("_m")
    )
    return best.select(
        F.col("_a").alias(anchor_col),
        F.col("_p").alias(positive_col),
        F.col("_i").alias("neg_rank"),
        F.col("_m._c").alias("negative"),
    )


def mixture_weights(
    df: DataFrame,
    target_shares_bp: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """B22 — domain-mixture reweighting: given a target mixture (shares in
    integer BASIS POINTS, summing to 10000) and a total token budget,
    compute per-domain sampling weights against what the corpus actually
    has — the planning step before token_budget_mix/temperature_mix
    executes a draw. For each domain s:

        avail_s   = Σ tokens in s                  (exact long)
        target_s  = budget * share_bp(s) / 10000   (exact integer floor)
        weight_bp = min(10000, target_s*10000/avail_s)  (exact int floor)
        expected  = min(avail_s, target_s)
        deficit   = target_s - expected   (>0 ⇒ the corpus can't fill the
                                           target at weight 1.0 — the
                                           "need more French" signal)

    Integer basis points end-to-end — shares, weights, and token counts
    never touch floating point, so the output is bit-identical on any
    engine and any partial-agg order (the §20/§22 ladder's strongest
    rung: no floats, no rounding contract at all). Domains present in
    the corpus but absent from the target get share 0 (weight 0) —
    they're excluded, not passed through. Targeted domains with ZERO
    corpus presence still emit a row (FULL outer join, avail coalesced
    to 0): weight_bp 0, expected 0, deficit = target_tokens — the
    "need more French" signal survives exactly when the deficit is
    total (r8 ADVICE fix). Cost: one map-side-combined aggregate over
    the corpus + a broadcast of the |domains|-row target table;
    nothing here grows with corpus size except the one scan.
    """
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    total_bp = sum(target_shares_bp.values())
    if total_bp != 10000:
        raise ValueError(
            f"target shares must sum to 10000 bp, got {total_bp}"
        )
    if any(v < 0 for v in target_shares_bp.values()):
        raise ValueError("target shares must be nonnegative")
    spark = df.sparkSession
    targets = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(target_shares_bp.items())],
        f"{source_col} string, _share_bp long",
    )
    avail = df.groupBy(source_col).agg(
        F.sum(F.col(token_col).cast("long")).alias("avail_tokens")
    )
    # FULL outer: corpus-only domains get share 0; target-only domains
    # (zero corpus presence) get avail 0 so the total deficit surfaces.
    # BroadcastHashJoin can't build a full-outer side, so this is a
    # sort-merge join — of two |domains|-row inputs (the corpus has
    # already collapsed to its map-side-combined per-domain aggregate),
    # so the exchange moves |domains| rows, not corpus rows.
    j = avail.join(targets, on=source_col, how="full_outer")
    share = F.coalesce(F.col("_share_bp"), F.lit(0))
    j = j.select(
        source_col,
        F.coalesce(F.col("avail_tokens"), F.lit(0).cast("long")).alias(
            "avail_tokens"
        ),
        share.alias("target_share_bp"),
    ).select(
        source_col,
        "avail_tokens",
        "target_share_bp",
        # `div` is INTEGER division (Spark `/` on longs goes through
        # DOUBLE, which loses exactness past 2^53 — budget*bp reaches
        # 1e16); DuckDB's `//` twin is integer division too.
        F.expr(
            f"(cast({int(budget_tokens)} as bigint) * target_share_bp)"
            " div 10000"
        ).alias("target_tokens"),
    )
    # Guard the zero-avail division explicitly (ANSI mode errors, non-ANSI
    # NULLs — neither is the contract): nothing available ⇒ weight 0.
    weight_bp = F.when(F.col("avail_tokens") == 0, F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(10000).cast("long"),
            F.expr("(target_tokens * 10000) div avail_tokens"),
        )
    )
    expected = F.least(F.col("avail_tokens"), F.col("target_tokens"))
    return j.select(
        source_col,
        "avail_tokens",
        "target_share_bp",
        "target_tokens",
        weight_bp.alias("weight_bp"),
        expected.alias("expected_tokens"),
        (F.col("target_tokens") - expected).alias("deficit_tokens"),
    )


def stratified_kfold_assign(
    df: DataFrame,
    k: int,
    keys: Sequence[str | Column],
    strata_col: str,
    salt: str = "",
    fold_col: str = "fold",
) -> DataFrame:
    """B22 — EXACTLY class-balanced k-fold assignment: within each
    stratum, rows rank by their md5 uniform and take fold =
    (rank − 1) mod k, so every stratum splits across the k folds to
    within ±1 row — the guarantee :func:`kfold_assign`'s pure hash can
    only give in expectation (a 30-row rare class can land 12/2/16
    under hash folds, and rare classes are exactly where CV variance
    hurts). Still fully deterministic: the md5 ordering is a pure
    function of (key, salt), so re-runs, re-partitions, and other
    engines reproduce identical folds; unique keys give unique
    uniforms, so the rank — and therefore the fold — is tie-free.

    Cost over the hash fold: one shuffle on ``strata_col`` for the
    per-stratum rank window (partitioned by stratum — never a global
    window; stratum cardinality is the parallelism floor, which is the
    inherent cost of exact per-stratum balance). NULL keys get a NULL
    fold (the module contract — they sort last and take no rank); NULL
    strata form their own stratum, balanced like any other.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql import Window

    u = hash_uniform(keys, salt)
    w = Window.partitionBy(strata_col).orderBy(
        F.col("_u").asc_nulls_last()
    )
    with_u = df.withColumn("_u", u)
    fold = F.when(
        F.col("_u").isNotNull(),
        ((F.row_number().over(w) - 1) % k).cast("int"),
    )
    return with_u.withColumn(fold_col, fold).drop("_u")


#: Cumulative CDF of Poisson(lambda=1), P(X <= k) for k = 0..4 — exact
#: double literals (repr) so the Spark expression and any SQL oracle parse
#: the identical IEEE values. Multiplicities above 4 are capped at 5
#: (P(X >= 5) ~ 3.66e-3; the cap bounds per-row blowup and is part of the
#: stated contract, not an approximation the caller can hit silently).
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def poisson_replicates(
    df: DataFrame,
    n_replicates: int,
    keys: Sequence[str | Column],
    salt: str = "boot",
    replicate_col: str = "replicate",
    multiplicity_col: str = "multiplicity",
) -> DataFrame:
    """B22 — the Poisson bootstrap: ``n_replicates`` deterministic
    with-replacement resamples of the input, each row's multiplicity in
    replicate ``r`` drawn as Poisson(1) via inverse-CDF over the
    md5-uniform of (keys.., r) — the standard streaming/distributed
    bootstrap (one pass, no sampling coordination, no global count
    needed), and here a PURE FUNCTION of the key values: any engine, any
    partitioning, any rerun draws the identical replicates, so
    bootstrap confidence intervals are reproducible artifacts.

    Returns the input × replicates with (``replicate_col`` int,
    ``multiplicity_col`` int, 0..5); downstream aggregates weight by the
    multiplicity (``sum(k * x)``), they never materialize duplicated
    rows. Rows whose key hash is NULL (any NULL key part) are EXCLUDED —
    same contract as :func:`hash_sample`, where a NULL key passes no
    threshold.

    Plan/scale: one explode multiplies the SCAN by ``n_replicates``, but
    every sensible consumer is an aggregate, and hash-aggregate partials
    combine map-side — the shuffle carries O(replicates × groups) rows,
    not replicates × data. For a metric over a 10^12-row corpus with 32
    replicates that is 32 shuffle rows per group. Keep ``n_replicates``
    at the tens-scale the Poisson bootstrap is designed for.
    """
    if n_replicates <= 0:
        raise ValueError("n_replicates must be positive")
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(n_replicates - 1))
    ).alias(replicate_col)
    out = df.select("*", rep)
    u = hash_uniform([*keys, F.col(replicate_col)], salt)
    k = (
        F.when(u < POISSON1_CDF[0], 0)
        .when(u < POISSON1_CDF[1], 1)
        .when(u < POISSON1_CDF[2], 2)
        .when(u < POISSON1_CDF[3], 3)
        .when(u < POISSON1_CDF[4], 4)
        .otherwise(5)
    )
    return (
        out.withColumn("_u", u)
        .filter(F.col("_u").isNotNull())
        .withColumn(multiplicity_col, k.cast("int"))
        .drop("_u")
    )


def rolling_origin_folds(
    df: DataFrame,
    ts_col: str,
    origins: "Sequence[str]",
    horizon: str = "5 days",
    fold_col: str = "fold",
    split_col: str = "split",
) -> DataFrame:
    """B22 — rolling-origin backtesting folds (time-series CV): fold k
    trains on everything BEFORE ``origins[k]`` and tests on the
    ``horizon`` right after it, so later folds legitimately reuse earlier
    folds' test ranges as training — the expanding-window evaluation
    protocol for forecasting/ranking models, where a random k-fold would
    leak the future. Time-based twin of :func:`temporal_split` (which
    cuts ONE embargoed boundary); membership is a pure function of the
    event timestamp against literal cut points — engine-exact, no
    sampling.

    Returns one row per (fold, in-window row): (``fold_col`` int,
    original columns, ``split_col`` 'train'|'test'); rows after a fold's
    test horizon are absent from that fold. Plan: ONE scan cross-joined
    against the |origins|-row literal spine (broadcast nested-loop on a
    bounded build side — the benign Cross shape), row-local CASE.
    """
    if not origins:
        raise ValueError("rolling_origin_folds requires at least 1 origin")
    if fold_col == split_col:
        # Both columns are owned outputs; a shared name would let the
        # later withColumn(split_col, ...) silently overwrite the fold
        # ids instead of erroring.
        raise ValueError(
            f"fold_col and split_col must differ (both {fold_col!r})"
        )
    for owned, val in (("fold_col", fold_col), ("split_col", split_col)):
        if val in df.columns:
            raise ValueError(
                f"{owned} {val!r} already exists in the input frame"
            )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(k, o) for k, o in enumerate(origins)], "fold int, cut_s string"
    ).select(
        F.col("fold").alias(fold_col),
        F.to_timestamp("cut_s").alias("_cut"),
        (F.to_timestamp("cut_s") + F.expr(f"INTERVAL {horizon}")).alias(
            "_fin"
        ),
    )
    ts = F.col(ts_col)
    return (
        df.crossJoin(F.broadcast(spine))
        .filter(ts < F.col("_fin"))
        .withColumn(
            split_col,
            F.when(ts < F.col("_cut"), F.lit("train")).otherwise(
                F.lit("test")
            ),
        )
        .drop("_cut", "_fin")
    )


def class_balance(
    df: DataFrame,
    label_col: str,
    keys: Sequence[str | Column],
    salt: str = "bal",
) -> DataFrame:
    """B22 — deterministic majority-class undersampling: cap every label
    at the MINORITY class's size, keeping each class's rows in
    hash-uniform order (so the kept set is a pure function of the data —
    reruns, repartitions, and engines agree; the standard class-balance
    step before training a quality/safety classifier on skewed labels).
    NULL labels form their own class; NULL-key rows are excluded (their
    hash is NULL — the module's uniform contract).

    Plan: one label-count aggregate (1-row-per-class, broadcast min),
    one per-label rank window ordered by (hash-uniform, keys) — class
    cardinality is the parallelism floor, the inherent cost of exact
    per-class caps.
    """
    u = hash_uniform(keys, salt)
    key_cols = [F.col(c) if isinstance(c, str) else c for c in keys]
    # Filter NULL-key rows FIRST so the class counts (hence the minority
    # cap) describe exactly the balanceable population.
    base = df.withColumn("_u", u).filter(F.col("_u").isNotNull())
    min_n = base.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(F.min("_n").alias("_min"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy(label_col).orderBy(
        F.col("_u").asc(), *[c.asc() for c in key_cols]
    )
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .crossJoin(F.broadcast(min_n))
        .filter(F.col("_rn") <= F.col("_min"))
        .drop("_u", "_rn", "_min")
    )
