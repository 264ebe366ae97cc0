"""Skew- and layout-management operators — the 100 TB toolkit.

SURVEY.md §4 scale posture: AQE handles moderate skew at runtime
(``spark.sql.adaptive.skewJoin``), but pathological hot keys in
aggregations and joins need explicit salting, and repeated big-big joins
on the same key deserve a bucketed layout so the shuffle happens once at
write time instead of per query. The reference has no notion of any of
this (single R process); these operators are pure engine surface.

- :func:`salted_group_agg` — two-phase aggregation for hot grouping keys:
  shuffle on (key, salt) first so no single reducer owns a hot key, then
  combine the per-salt partials. Works for any algebraic aggregate given
  its (partial, merge) pair; results are bit-identical to a plain groupBy.
- :func:`salted_join` — replicate the small side per salt value so a hot
  join key's rows spread over ``salt_buckets`` tasks.
- :func:`write_bucketed` / :func:`bucketed_table` — persist a DataFrame
  bucketed+sorted by the join key; two tables bucketed the same way
  equi-join with zero Exchange (verified in tests by plan inspection).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "with_salt",
    "salted_group_agg",
    "salted_join",
    "write_bucketed",
    "bucketed_table",
    "write_partitioned",
    "zvalue",
    "write_zordered",
    "merge_upsert",
    "compact",
    "key_skew_audit",
    "join_strategy_advice",
    "join_fanout_estimate",
    "write_audit_publish",
    "bloom_filter_report",
    "bloom_filter_planner",
]


def with_salt(df: DataFrame, buckets: int, name: str = "_salt") -> DataFrame:
    """Add a uniform salt column in [0, buckets). Derived from a hash of
    the whole row rather than rand() so replays are deterministic."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets))
    return df.withColumn(name, salt.cast("int"))


def salted_group_agg(
    df: DataFrame,
    keys: Sequence[str],
    partials: Sequence[Column],
    finals: Sequence[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase (salted) aggregation for skewed grouping keys.

    ``partials`` aggregate within (keys, salt) — e.g. ``F.sum("x").alias
    ("sum_x")``, ``F.count("*").alias("cnt")``; ``finals`` combine the
    partials per key — e.g. ``F.sum("sum_x").alias("sum_x")``,
    ``F.sum("cnt").alias("cnt")``. The first shuffle spreads a hot key
    over ``salt_buckets`` reducers; the second shuffle moves only
    ``|keys| × salt_buckets`` pre-aggregated rows.
    """
    salted = with_salt(df, salt_buckets)
    partial = salted.groupBy(*keys, "_salt").agg(*partials)
    return partial.groupBy(*keys).agg(*finals)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small side
    once per salt value, join on (key, salt). Use when one join key owns a
    disproportionate share of the big side and AQE's skew splitting is not
    enough (e.g. the hot key exceeds a single executor's memory). The small
    side grows ×``salt_buckets`` — keep it genuinely small.

    Only ``inner`` and ``left`` (outer) joins are supported: under a
    right/full outer join every unmatched small-side key would surface
    once per salt replica as spurious null-extended rows."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: "
            "right/full outer would emit one null-extended row per salt "
            "replica for unmatched small-side keys"
        )
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)).cast("int")
    )
    small_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    joined = big_s.join(
        small_r,
        on=[big_s[big_key] == small_r[small_key], big_s["_salt"] == small_r["_salt"]],
        how=how,
    )
    return joined.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.
    Joins/aggregations on ``bucket_cols`` between tables bucketed the same
    way need no Exchange — the write pays the shuffle once. This is the
    layout move for fact tables that are repeatedly joined on one key at
    100 TB."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def bucketed_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Hive-style partitioned layout (``path/col=value/...``). Filters on
    ``partition_cols`` become directory pruning — at 100 TB a date filter
    on date-partitioned events skips whole directories without opening a
    footer. Partition columns must be low-cardinality (date, region, type);
    a high-cardinality partition column creates a small-files problem
    instead. Pruning is asserted in tests via ``PartitionFilters`` in the
    scan node."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def zvalue(
    cols: Sequence[str],
    mins: Sequence[float],
    maxs: Sequence[float],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) curve value for ``cols`` as a pure-builtin Column.

    Each column is linearly scaled into a ``bits``-bit integer using the
    supplied global [min, max] (two broadcast scalars per column — no sort,
    no window), then the columns' bits are interleaved; nearby points in
    the multi-dimensional space get nearby z-values. The whole expression
    is integer shift/mask arithmetic — whole-stage-codegen'd, evaluated in
    one pass over the data.
    """
    n = len(cols)
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        scale = ((1 << bits) - 1) / span if span > 0 else 0.0
        q = F.floor((F.col(c).cast("double") - float(lo)) * scale).cast("long")
        quantized.append(F.greatest(F.least(q, F.lit((1 << bits) - 1)), F.lit(0)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    n_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Z-order clustered layout: sort the table along the Morton curve of
    ``cols`` and range-partition into ``n_files`` files, so EVERY clustered
    column gets narrow per-file min/max ranges simultaneously — parquet
    footer stats then skip most files for a selective filter on ANY of the
    clustered dimensions (single-column sort gives this for one dimension
    only). This is the multi-dimensional data-skipping layout for fact
    tables queried along several axes (e.g. events by user AND by value).

    Cost at 100 TB: one bounded min/max agg scan (for the scaling
    constants) + one range-shuffle write — same shape as any sorted
    rewrite; file count should target ~1 GB files. Skipping effectiveness
    is asserted in tests from the parquet footers themselves.
    """
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).head()
    mins = [stats[f"mn_{i}"] for i in range(len(cols))]
    maxs = [stats[f"mx_{i}"] for i in range(len(cols))]
    z = zvalue(cols, mins, maxs, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """MERGE-style upsert onto a plain parquet table: rows in ``updates``
    replace target rows with the same key; new keys append.

    Implementation: anti-join the target against the update keys (keep
    unaffected rows), union the updates, rewrite. On plain parquet this
    rewrites the table (the write is staged to a temp dir first, so a
    mid-rewrite failure never destroys the target); a table format with
    transaction support (Delta/Iceberg) turns the same logical MERGE into
    a metadata operation — this operator is the format-independent
    fallback and the semantic contract.

    At 100 TB: partition the target (write_partitioned) and call this per
    affected partition — the update key set prunes the rewrite.
    """
    from pyspark.sql import functions as SF

    target = spark.read.format(fmt).load(target_path)
    kept = target.join(
        updates.select(*key_cols).distinct(), on=list(key_cols), how="left_anti"
    )
    merged = kept.unionByName(updates)
    staging = target_path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").format(fmt).save(staging)
    _swap_staging(spark, staging, target_path)


def _swap_staging(spark: SparkSession, staging: str, target: str) -> None:
    """Swap a fully-written staging directory into place.

    Rename the live table ASIDE first (never delete-then-rename: a crash
    between those two steps would leave no table at the target path at
    all). Order: target → target__old, staging → target, drop target__old.
    A crash at any point leaves the data in a recoverable directory, and
    every rename's boolean result is checked."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    dst = jvm.org.apache.hadoop.fs.Path(target)
    src = jvm.org.apache.hadoop.fs.Path(staging)
    old = jvm.org.apache.hadoop.fs.Path(target.rstrip("/") + "__old")
    fs = dst.getFileSystem(conf)
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(dst) and not fs.rename(dst, old):
        raise IOError(f"could not move {target} aside to {old}")
    if not fs.rename(src, dst):
        # Put the original back before failing — the table stays readable.
        if fs.exists(old):
            fs.rename(old, dst)
        raise IOError(f"could not move staging {staging} into {target}")
    fs.delete(old, True)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    fmt: str = "parquet",
) -> None:
    """Small-files compaction: rewrite a table directory into
    ``target_files`` files. Streaming sinks and per-batch upserts
    accumulate small files; periodic compaction restores scan efficiency
    (fewer tasks, better columnar compression). Same staged-rewrite safety
    as :func:`merge_upsert`."""
    df = spark.read.format(fmt).load(path).coalesce(target_files)
    staging = path.rstrip("/") + "__staging"
    df.write.mode("overwrite").format(fmt).save(staging)
    _swap_staging(spark, staging, path)


def key_skew_audit(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """B28/§4 — join-key skew census: the diagnostic you run BEFORE
    choosing plain vs salted vs broadcast for a big join or aggregation.
    Returns the ``top_n`` heaviest keys with exact counts plus corpus
    context, all integers (bit-identical on any engine — no rounding
    contract at all):

      key_value   the key, cast to string (NULL keys audit as NULL — the
                  classic accidental hot key)
      n_rows      exact occurrence count
      share_bp    n_rows * 10000 div total_rows (basis points, floor)
      total_rows  corpus row count
      n_keys      distinct key count

    ``n_rows * n_keys / total_rows`` (the skew factor vs a uniform
    spread) is a caller-side one-liner from these exact columns —
    emitting it pre-divided would reintroduce a float rounding contract
    for zero information.

    Plan shape: one map-side-combined count per key, a TakeOrdered
    top-n (count desc, key asc — deterministic), and a 1-row global
    aggregate broadcast onto the n rows. The per-key count table never
    sorts globally and nothing here grows beyond the one scan at 100 TB.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key_value")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    globals_ = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(F.desc("n_rows"), F.asc_nulls_first("key_value")).limit(
        int(top_n)
    )
    return top.crossJoin(F.broadcast(globals_)).select(
        "key_value",
        "n_rows",
        F.expr("(n_rows * 10000) div total_rows").alias("share_bp"),
        "total_rows",
        "n_keys",
    )


def join_strategy_advice(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    broadcast_max_rows: int = 10_000_000,
    skew_share_bp: int = 500,
    target_parallelism: int = 200,
) -> DataFrame:
    """B28/§4 — the cost-based "explain advisor" twin of
    :func:`key_skew_audit` (VERDICT r8 #8): given the two sides of a
    planned equi-join, recommend plain / salted / broadcast from the
    same census the audit already computes. One row, all decision
    inputs exact integers so the verdict is bit-identical on any
    engine:

      fact_rows, fact_keys      exact fact-side census
      fact_top_key              heaviest fact key (string; NULL audits
                                as NULL — the classic accidental hot
                                key). Count ties resolve to the
                                smallest NON-NULL key string; a NULL
                                key wins only when it is strictly
                                heaviest (NULLS-LAST tiebreak, stated
                                explicitly because engines disagree on
                                default NULL ordering)
      fact_top_share_bp         its share in basis points (floor)
      dim_rows                  exact dim-side row count
      strategy                  'broadcast'  if dim_rows <= broadcast_max_rows
                                'salted'     elif fact_top_share_bp >= skew_share_bp
                                'shuffle'    otherwise
      salt_buckets              0 unless salted; else the bucket count
                                that spreads the hot key to ~1/target_
                                parallelism of the shuffle:
                                least(target_parallelism,
                                      (top_share_bp * target_parallelism)
                                      div 10000 + 1)

    The thresholds are arguments, not magic: ``broadcast_max_rows``
    mirrors what you'd give ``spark.sql.autoBroadcastJoinThreshold``
    (rows, since the census has no byte sizes), ``skew_share_bp`` is
    the hot-key share above which AQE's skew-join split still leaves
    one straggler per hot key and pre-salting wins.

    Plan shape: one map-side-combined count per fact key collapsing to
    a 1-row ``max_by`` census, one 1-row dim count, one broadcast
    cross of the two 1-row tables. Nothing beyond the two scans at any
    scale — this is strictly cheaper than the join it advises on.

    An EMPTY fact emits ZERO rows (there is no join to advise on), not
    a row of NULLs — the defined contract for both engines.
    """
    if broadcast_max_rows < 0:
        raise ValueError("broadcast_max_rows must be >= 0")
    if not 0 < skew_share_bp <= 10000:
        raise ValueError("skew_share_bp must be in (0, 10000]")
    if target_parallelism < 1:
        raise ValueError("target_parallelism must be >= 1")
    counts = fact.groupBy(
        F.col(fact_key).cast("string").alias("_k")
    ).agg(F.count(F.lit(1)).alias("_n"))
    # Deterministic top key: min_by over the struct (-n, k IS NULL, key)
    # — structs compare field-by-field, so the largest count wins, count
    # ties resolve to the smallest NON-NULL key string, and a NULL key
    # wins only when strictly heaviest (Spark's bare struct compare
    # would sort the NULL field FIRST; DuckDB ORDER BY defaults NULLS
    # LAST — the explicit is-null field makes both engines agree).
    fact_census = counts.agg(
        F.sum("_n").cast("long").alias("fact_rows"),
        F.count(F.lit(1)).cast("long").alias("fact_keys"),
        F.min_by(
            "_k",
            F.struct(
                (-F.col("_n")).alias("a"),
                F.col("_k").isNull().cast("int").alias("b"),
                F.col("_k").alias("c"),
            ),
        ).alias("fact_top_key"),
        F.max("_n").cast("long").alias("_top_n"),
    ).filter(F.col("fact_keys") > 0)
    dim_census = dim.agg(F.count(F.lit(1)).cast("long").alias("dim_rows"))
    j = fact_census.crossJoin(F.broadcast(dim_census))
    top_share = F.expr("(_top_n * 10000) div fact_rows")
    strategy = (
        F.when(F.col("dim_rows") <= F.lit(int(broadcast_max_rows)), "broadcast")
        .when(top_share >= F.lit(int(skew_share_bp)), "salted")
        .otherwise("shuffle")
    )
    salt = F.when(
        strategy == "salted",
        F.least(
            F.lit(int(target_parallelism)).cast("long"),
            F.expr(
                f"(((_top_n * 10000) div fact_rows) * {int(target_parallelism)})"
                " div 10000 + 1"
            ),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return j.select(
        "fact_rows",
        "fact_keys",
        "fact_top_key",
        top_share.alias("fact_top_share_bp"),
        "dim_rows",
        strategy.alias("strategy"),
        salt.alias("salt_buckets"),
    )


def join_fanout_estimate(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    top_n: int = 20,
) -> DataFrame:
    """B28/§4 — exact join-output cardinality WITHOUT running the join:
    the fanout-bomb detector you run before a big equi-join. For every
    key present on BOTH sides, output rows = left_rows × right_rows;
    the result is the ``top_n`` heaviest contributors plus the exact
    global total — the number that says "this join emits 40 B rows
    from 2 B inputs, go fix the key" before the cluster finds out the
    hard way.

      key_value        join key as string (NULL keys match nothing in an
                       equi-join, and the census inner-join drops them
                       identically)
      left_rows/right_rows  exact per-side counts
      out_rows         left_rows * right_rows, computed in
                       DECIMAL(38,0) and shipped as its canonical
                       STRING — one key with >3.04e9 rows on BOTH
                       sides overflows an int64 product, and that is
                       precisely the fanout-bomb key this detector
                       exists to report; under Spark 4 ANSI a long
                       product would make the detector die on the bomb
                       instead of warning about it
      total_out_rows   Σ out_rows over ALL matched keys, as a STRING
                       of the exact DECIMAL(38,0) sum — the global total
                       can exceed int64 long before any single key does,
                       and decimal output columns are driver-hash-unsafe
                       (round-3 lesson), so the exact integer ships as
                       its canonical string
      matched_keys     count of keys present on both sides

    Plan shape: one map-side-combined count per side, an inner equi-join
    of the two CENSUS tables (key-sized, not row-sized), a TakeOrdered
    top-n and a 1-row total broadcast onto the n rows. Strictly cheaper
    than the join it sizes, at any scale.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    lc = left.groupBy(
        F.col(left_key).cast("string").alias("key_value")
    ).agg(F.count(F.lit(1)).cast("long").alias("left_rows"))
    if left is right and left_key == right_key:
        # Self-join sizing (the n-squared detector): one census, not two —
        # Catalyst does not dedupe the identical scan+aggregate subtrees.
        rc = lc.select(
            "key_value", F.col("left_rows").alias("right_rows")
        )
    else:
        rc = right.groupBy(
            F.col(right_key).cast("string").alias("key_value")
        ).agg(F.count(F.lit(1)).cast("long").alias("right_rows"))
    return _fanout_from_censuses(lc, rc, int(top_n))


def _fanout_from_censuses(
    lc: DataFrame, rc: DataFrame, top_n: int
) -> DataFrame:
    """The census-join half of :func:`join_fanout_estimate`, factored
    out so the 2^63-adjacent per-key product arithmetic can be pinned
    by a unit test on SYNTHETIC census rows (counts > 3.1e9) without
    materializing billions of input rows. Expects (key_value STRING,
    left_rows LONG) / (key_value STRING, right_rows LONG)."""
    m = lc.join(rc, "key_value").select(
        "key_value",
        "left_rows",
        "right_rows",
        (F.col("left_rows").cast("decimal(38,0)") * F.col("right_rows"))
        .alias("_out_dec"),
    )
    tot = m.agg(
        F.sum("_out_dec").cast("string").alias("total_out_rows"),
        F.count(F.lit(1)).cast("long").alias("matched_keys"),
    )
    top = m.orderBy(
        F.desc("_out_dec"), F.asc_nulls_first("key_value")
    ).limit(int(top_n))
    return top.crossJoin(F.broadcast(tot)).select(
        "key_value",
        "left_rows",
        "right_rows",
        F.col("_out_dec").cast("string").alias("out_rows"),
        "total_out_rows",
        "matched_keys",
    )


def write_audit_publish(
    df: DataFrame,
    target: str,
    rules: "dict[str, Column]",
    fmt: str = "parquet",
) -> DataFrame:
    """B29 — the Write-Audit-Publish (WAP) sink: write to a STAGING
    directory, run the one-scan expectations gate (:func:`relational.
    validate_expectations`) over the files actually WRITTEN — auditing
    the staged output, not the input lineage, so serialization bugs and
    non-deterministic upstream recomputation are inside the audit — and
    only then swap the staging directory into place atomically
    (:func:`_swap_staging`: rename-aside + rename, so readers see the
    old table or the new one, never a partial write; the same
    same-filesystem-rename contract every non-transactional WAP relies
    on — on object stores you'd reach for a table format instead). On
    ANY violation nothing publishes: the target keeps its previous
    contents and the staging dir REMAINS for inspection (its path is in
    the report).

    Returns the audit report — one row per rule plus a ``_publish``
    summary row:

      rule          expectation name, or '_publish'
      n_violations  violations counted on the STAGED data (for
                    '_publish': total violations across rules)
      published     whether the swap happened (same value every row)
      n_rows        read-back row count of the PUBLISHED target
                    (NULL when not published)

    One write, one audit scan, renames — the audit is the only extra
    read and it is a single aggregate over the staged files.
    """
    import uuid as _uuid

    from ddataframeoperation_spark.operators.relational import (
        validate_expectations,
    )

    if not rules:
        raise ValueError("write_audit_publish requires at least one rule")
    spark = df.sparkSession
    staging = target.rstrip("/") + f"__staging_{_uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").format(fmt).save(staging)
    staged = spark.read.format(fmt).load(staging)
    report = validate_expectations(staged, rules).collect()
    total = sum(r["n_violations"] for r in report)
    published = total == 0
    if published:
        _swap_staging(spark, staging, target)
        n_rows = spark.read.format(fmt).load(target).count()
    else:
        n_rows = None
    rows = [
        (r["rule"], r["n_violations"], published, n_rows) for r in report
    ] + [("_publish", total, published, n_rows)]
    out = spark.createDataFrame(
        rows, "rule string, n_violations long, published boolean, n_rows long"
    )
    if not published:
        # Surface the retained staging path without printing from executors.
        out = out.withColumn("staging_kept", F.lit(staging))
        return out
    return out.withColumn("staging_kept", F.lit(None).cast("string"))


def bloom_filter_report(
    build: DataFrame,
    build_key: str,
    probe: DataFrame,
    probe_key: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
    salt: str = "bf",
) -> DataFrame:
    """B12 — measured effectiveness of a Bloom runtime filter for a join,
    BEFORE you pay for one: the go/no-go report for
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` (and for hand-built
    semi-join pushdowns) on a specific build/probe pair.

    The filter is simulated logically and deterministically — no engine
    sketch, no bitset: position ``i`` of key ``k`` is
    ``md5(k || '|' || salt || '|' || i)`` (first 8 hex) mod ``n_bits``, the
    same md5-prefix recipe as :func:`sampling.hash_uniform`, so any engine
    reproduces the identical filter and the report is exactly
    oracle-checkable. A probe key PASSES when every one of its (distinct)
    positions appears in the build side's position set — the textbook Bloom
    semantics, including its one-sided error: no false negatives (pinned by
    test), only false positives.

    Plan shape, sized for the 100 TB probe side: the position set is built
    from the BUILD side's distinct keys (the dimension/filtered side — small
    by assumption, exactly like the engine's own runtime filter) and
    broadcast; probe work is one distinct over probe keys plus
    per-distinct-key hashing — the probe fact table itself is never
    shuffled, only semi-joined to the per-key flag table on its own key.
    NULL keys never pass and are excluded from every count (a Bloom filter
    has no NULL membership; stated contract).

    Returns ONE row:

      n_build_keys / n_probe_keys   distinct non-NULL keys per side
      n_pass_keys                   probe keys the Bloom admits
      n_true_keys                   probe keys actually present in build
      n_false_pos_keys              admitted but absent (= pass - true)
      n_probe_rows / n_pass_rows / n_true_rows   same three, in probe ROWS
      skip_bp                       basis points of probe rows the filter
                                    would eliminate before the join,
                                    computed in DECIMAL(38,0) (the
                                    row-count x 10^4 product is the int64
                                    overflow class VERDICT r9 flagged in
                                    gain_chart; never long arithmetic)

    Sizing guidance rides on the output: if ``n_false_pos_keys`` is a large
    share of admitted keys, ``n_bits`` is undersized for the build
    cardinality (m/n < ~10 bits/key at k=3) — grow ``n_bits`` before
    enabling the real filter.
    """
    if n_bits <= 0 or n_hashes <= 0:
        raise ValueError("n_bits and n_hashes must be positive")

    def _positions(key: Column) -> list[Column]:
        return [
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                key.cast("string"),
                                F.lit(f"|{salt}|{i}"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(n_bits)
            )
            for i in range(n_hashes)
        ]

    bk = (
        build.select(F.col(build_key).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
    )
    bpos = (
        bk.select(F.explode(F.array(*_positions(F.col("k")))).alias("pos"))
        .distinct()
    )
    pk = (
        probe.select(F.col(probe_key).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
    )
    # Distinct (key, pos): a key whose hash family collides internally
    # contributes each position once, so `hit == npos` is collision-safe.
    ppos = pk.select(
        "k", F.explode(F.array(*_positions(F.col("k")))).alias("pos")
    ).distinct()
    pstat = (
        ppos.join(F.broadcast(bpos.withColumn("_in", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("npos"),
            F.sum(F.coalesce(F.col("_in"), F.lit(0))).alias("hit"),
        )
    )
    flags = (
        pstat.join(F.broadcast(bk.withColumn("_t", F.lit(1))), "k", "left")
        .select(
            "k",
            (F.col("hit") == F.col("npos")).alias("pass"),
            F.coalesce(F.col("_t") == 1, F.lit(False)).alias("istrue"),
        )
    )
    rows = probe.select(F.col(probe_key).alias("k")).filter(
        F.col("k").isNotNull()
    ).join(flags, "k")
    agg = rows.agg(
        F.count(F.lit(1)).alias("n_probe_rows"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass_rows"),
        F.sum(F.when(F.col("istrue"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_rows"),
    )
    kagg = flags.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass_keys"),
        F.sum(F.when(F.col("istrue"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_keys"),
    )
    nb = bk.agg(F.count(F.lit(1)).alias("n_build_keys"))
    return (
        nb.crossJoin(kagg)
        .crossJoin(agg)
        .select(
            "n_build_keys",
            "n_probe_keys",
            "n_pass_keys",
            "n_true_keys",
            (F.col("n_pass_keys") - F.col("n_true_keys")).alias(
                "n_false_pos_keys"
            ),
            "n_probe_rows",
            "n_pass_rows",
            "n_true_rows",
            F.when(F.col("n_probe_rows") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(CAST(n_probe_rows - n_pass_rows AS DECIMAL(38,0))"
                    " * 10000) div n_probe_rows"
                ).cast("long")
            )
            .alias("skip_bp"),
        )
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value: Column,
    value_is_integral: bool = True,
) -> DataFrame:
    """B28 — EXACT Gini coefficient of how a value concentrates over keys
    within each group, in basis points: the inequality half of the skew
    toolkit (:func:`key_skew_audit` finds the hot keys; this scores the
    whole distribution — gini_bp 0 = evenly spread, → 10000·(n-1)/n = one
    key owns everything). The production read: revenue/traffic/token-count
    concentration per tenant/domain/source, the "is this corpus three
    mirrors in a trenchcoat" number.

    Uses the sorted-rank identity G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)
    over the per-key totals sorted (value ASC, key ASC — the tiebreak
    makes the rank, hence the result, engine-exact). ``value`` must be a
    nonnegative INTEGRAL column expression (cents/counts — the module's
    exact-money posture); every product runs in DECIMAL(38,0) and the
    final division is integral ``div``, so the result is exact at any
    scale. Groups with zero total emit gini_bp = 0 (stated contract).

    Output: (group, n_keys long, total_value STRING — the canonical
    DECIMAL(38,0) digits, because per-group totals can exceed 2^53 and a
    double would silently round them — gini_bp long). Plan: one (group,
    key) hash-aggregate, one window partitioned by group, one group
    aggregate — rank windows never see ungrouped data.
    """
    per_key = df.groupBy(
        F.col(group_col).alias("grp"), F.col(key_col).alias("k")
    ).agg(F.sum(value.cast("decimal(38,0)")).alias("x"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("grp").orderBy(F.col("x").asc(), F.col("k").asc())
    ranked = per_key.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").alias("s0"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * x")).alias("s1"),
    )
    return g.select(
        F.col("grp").alias(group_col),
        F.col("n_keys"),
        F.col("s0").cast("string").alias("total_value"),
        F.when(F.col("s0") <= 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "((2 * s1 - (n_keys + 1) * s0) * 10000) div (n_keys * s0)"
            ).cast("long")
        )
        .alias("gini_bp"),
    )


def bloom_filter_planner(
    build: DataFrame,
    build_key: str,
    n_bits_options: "Sequence[int]" = tuple(1 << p for p in range(14, 21)),
    n_hashes_options: "Sequence[int]" = (1, 2, 3, 4, 5, 6, 7, 8),
) -> DataFrame:
    """B12 — the sizing half of the Bloom pair (predict, then verify with
    :func:`bloom_filter_report`): for a ladder of (m bits, k hashes)
    configs against the build side's MEASURED distinct-key count n, emit
    the standard false-positive model fp = (1 − e^(−kn/m))^k, the memory
    cost in bits/key, and whether k is the optimal ln2·m/n for that m —
    the same planner-beside-measurement pattern as the LSH parameter
    planner (`dedup.lsh_power_curve`) and the ANN memory planner
    (`similarity.index_memory_planner`).

    n is the one data-dependent input (a 1-row census broadcast over the
    |ladder|-row literal spine); the fp model is float (e^x is
    transcendental — no integer-exact form exists), rounded to 4dp like
    every cross-engine double here. bits_per_key_x100 is integral.

    An EMPTY (or all-NULL-key) build side returns an EMPTY plan: with
    n = 0 there is nothing to size, and letting the zero through would
    NULL the bits-per-key division under non-ANSI or raise
    DIVIDE_BY_ZERO under ANSI (the Spark 4 default) plus NaN/Inf in the
    fp model — the benford_audit zero-total posture.

    Output: (n_build_keys, n_bits, n_hashes, bits_per_key_x100,
    fp_pred, is_k_opt). Plan: one distinct-count aggregate; everything
    else is literal-table math.
    """
    spine = build.sparkSession.createDataFrame(
        [(m, k) for m in n_bits_options for k in n_hashes_options],
        "m long, k int",
    )
    n = (
        build.select(F.col(build_key).alias("_k"))
        .filter(F.col("_k").isNotNull())
        .agg(F.countDistinct("_k").alias("n"))
        .filter(F.col("n") >= 1)
    )
    kd = F.col("k").cast("double")
    return (
        spine.crossJoin(F.broadcast(n))
        .select(
            F.col("n").alias("n_build_keys"),
            F.col("m").alias("n_bits"),
            F.col("k").alias("n_hashes"),
            F.expr("(CAST(m AS DECIMAL(38,0)) * 100) div n")
            .cast("long")
            .alias("bits_per_key_x100"),
            F.round(
                F.pow(
                    F.lit(1.0)
                    - F.exp(-((kd * F.col("n")) / F.col("m"))),
                    kd,
                ),
                4,
            ).alias("fp_pred"),
            (
                F.col("k")
                == F.greatest(
                    F.lit(1),
                    F.floor(
                        F.lit(0.6931471805599453)
                        * F.col("m")
                        / F.col("n")
                        + F.lit(0.5)
                    ).cast("int"),
                )
            ).alias("is_k_opt"),
        )
    )
