"""Vector similarity search over embedding columns.

SURVEY.md §2 B33 (north-star mandated). The embedding column is a stock
``array<float>`` (fixtures: embeddings.embedding, 64-dim).

Two tiers, as the north star demands:
- brute-force exact cosine top-k — the correctness baseline. All math is
  builtin higher-order functions (zip_with/aggregate) in double precision,
  JVM-side, whole-stage-codegen'd; top-k is TakeOrdered (no global sort).
  At scale this is a single map + O(k) reduce: fine for one query vector
  over any corpus size, since the scan is embarrassingly parallel.
- LSH-bucketed (random hyperplane signs → Hamming buckets) — the 100 TB
  *pairwise* / multi-query path: candidates share a bucket, so the join is
  equi on bucket id instead of cross. Exact re-scoring on candidates only.
  An IVF variant (k-means coarse centroids) would slot in the same shape;
  random-hyperplane LSH is chosen because it needs no training pass.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "binary_quantize",
    "binary_hamming_topk",
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "cosine_topk_multi",
    "matryoshka_recall",
    "index_memory_planner",
    "cosine_neardup_pairs",
    "hyperplane_signature",
    "lsh_topk",
    "kmeans_centroids",
    "centroid_assign",
    "ivf_assign",
    "ivf_topk",
    "quantize_embeddings",
    "quantized_topk",
    "label_centroids",
    "nearest_centroid_confusion",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "semantic_join",
]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, accumulated in double. Left-to-right
    fold → deterministic, order-stable (matches any sequential oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double. Degenerate inputs score NULL, never
    crash and never win: a zero-norm vector divides by zero, which under
    ANSI mode (the Spark 4 default) would KILL the whole job for one
    corrupt row — ``try_divide`` maps it to NULL; a NaN element would
    produce a NaN score that Spark's total order ranks ABOVE every real
    match (NaN > +inf) and that PASSES ``>= threshold`` predicates —
    ``nanvl`` maps it to NULL too. NULL scores sort last in the callers'
    descending rankings and fail threshold predicates, so degenerate
    vectors lose everywhere (count them with :func:`embedding_health`).
    Both wrappers evaluate the fold ONCE — no when()/filter re-inlining
    of the interpreted aggregate (the measured 3-10x trap documented in
    :func:`semantic_join`)."""
    raw = F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
    return F.nanvl(raw, F.lit(None).cast("double"))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """B33 baseline — exact brute-force cosine top-k for one query vector.

    The query vector is inlined as an array literal (broadcast by value);
    the scan computes cosine per row and TakeOrdered keeps k. Rounded to 4
    decimals for cross-engine comparability; ordering uses the unrounded
    score with id tiebreak for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("_cos"),
    )
    return (
        scored.orderBy(F.col("_cos").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round("_cos", 4).alias("cos_sim"))
    )


def cosine_topk_multi(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    shards: int = 32,
) -> DataFrame:
    """B33 — exact brute-force cosine top-k for a BATCH of query vectors
    (the evaluation-run shape: score every query of a small query table
    against the whole corpus in one pass).

    ``queries`` is a SMALL table (query_id, query_vec) — it broadcasts;
    the corpus is scanned ONCE and every (row × query) cosine is
    computed in that scan. Per-query top-k is the two-level shape: a
    local top-k per (query, shard-of-id) window — each partition holds
    ~|corpus|/``shards`` rows of one query — then the global top-k per
    query over the ≤ shards·k survivors. No data-sized single-task sort
    of any query's scores; growing the corpus grows the parallel level-1
    work only. Output matches :func:`cosine_topk` per query: rounded
    score, unrounded-score ordering with id tiebreak.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("_qv")
        )
    )
    scored = df.crossJoin(q).select(
        query_id_col,
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qv")).alias("_cos"),
    )
    shard = F.pmod(F.hash(F.col(id_col)), F.lit(shards))
    w1 = Window.partitionBy(query_id_col, shard).orderBy(
        F.col("_cos").desc_nulls_last(), F.col(id_col).asc()
    )
    local = scored.withColumn("_rn", F.row_number().over(w1)).filter(
        F.col("_rn") <= k
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        local.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .select(
            query_id_col,
            F.col(id_col),
            F.round("_cos", 4).alias("cos_sim"),
        )
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: Sequence[Sequence[float]] | None = None,
    arrow_kernel: bool = True,
    keep_block: bool = False,
) -> DataFrame:
    """B33/north-star — embedding-cosine near-duplicate pairs.

    Candidate generation is an equi-join on a blocking key — never a cross
    join: either a caller-supplied ``block_col`` (e.g. a cluster/label/
    partition id) or, for unblocked corpora, the random-hyperplane LSH
    signature from ``planes`` (pairs within a bucket share all sign bits;
    raise recall by passing several independent plane sets and unioning).
    Exact cosine re-scores candidates; only pairs >= threshold survive.

    Default scoring path (``arrow_kernel=True``): one shuffle on the block
    key, then an Arrow-batched ``applyInPandas`` kernel per block — numpy
    row-normalize + one BLAS matmul for all within-block pairs. Spark's
    higher-order array functions are CodegenFallback (interpreted, boxed,
    per-element), so the JVM per-pair zip_with/aggregate dot is ~10× slower
    on candidate-heavy blocks (measured 5.4s → 0.5s at sf0.1). The
    fallback (``arrow_kernel=False``) keeps the pure-JVM self-join form.

    Block-size contract at 100 TB: a block's vectors must fit one
    executor's memory (the same contract every IVF/blocked-matmul system
    has) — choose the blocking key so the largest block is bounded, or
    sub-split hot blocks upstream; the kernel is O(m²·d) per block either
    way, which is the inherent cost of exact pairwise re-scoring.

    ``keep_block=True`` (requires ``block_col``) appends the block value
    as a fourth column named ``block_col`` — the same contract as
    ``jaccard_pairs(keep_group=True)``: each id belongs to exactly one
    block (the blocking key is a row column), so a downstream blocked
    operator (e.g. ``connected_components(block_col=...)``) can reuse
    the blocking without a re-join.
    """
    if keep_block and block_col is None:
        raise ValueError("keep_block requires block_col")
    if block_col is not None:
        blk = F.col(block_col)
    elif planes is not None:
        blk = hyperplane_signature(F.col(vec_col), planes)
    else:
        raise ValueError("pass block_col or planes — unblocked pairwise "
                         "cosine is a cross join and does not scale")
    blocked = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), blk.alias("blk")
    )
    if arrow_kernel:
        import numpy as np

        thr = float(threshold)
        id_type = dict(df.dtypes)[id_col]

        def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            m = len(pdf)
            cols = ["id_a", "id_b", "cos_sim"] + (["blk"] if keep_block else [])
            if m < 2:
                return pd.DataFrame({c: [] for c in cols})
            pdf = pdf.sort_values("id")
            ids = pdf["id"].to_numpy()
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            n = np.linalg.norm(V, axis=1)
            n[n == 0.0] = 1.0
            V /= n[:, None]
            S = V @ V.T
            iu, ju = np.triu_indices(m, k=1)
            s = S[iu, ju]
            keep = s >= thr
            # floor(x*1e4+0.5)/1e4, not np.round: half-to-even diverges
            # from SQL half-away rounding on exact grid ties (same fix as
            # the Jaccard kernel).
            out = {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cos_sim": np.floor(s[keep] * 10000 + 0.5) / 10000,
            }
            if keep_block:
                out["blk"] = pdf["blk"].iloc[0]
            return pd.DataFrame(out)

        from ddataframeoperation_spark.operators.script import (
            apply_script_grouped,
        )

        schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
        if keep_block:
            schema += f", blk {dict(df.dtypes)[block_col]}"
        # apply_script_grouped pins the Python stage's parallelism (AQE
        # would coalesce the exchange, starving the per-block matmul).
        out = apply_script_grouped(blocked, ["blk"], _block_pairs, schema)
        return out.withColumnRenamed("blk", block_col) if keep_block else out
    # JVM fallback: pre-normalize each vector ONCE per row (materialized
    # column — a lambda-referenced norm expression would be re-inlined and
    # recomputed per element) so a candidate pair costs one dot product.
    # try_divide: a zero-norm vector would otherwise raise DIVIDE_BY_ZERO
    # under ANSI (Spark 4 default) and kill the job; NULL elements make
    # its every dot NULL, which fails `>= threshold` below — the same
    # "degenerate vectors pair with nothing" outcome the Arrow kernel
    # reaches via cos = 0 (assuming threshold > 0, the only sane range).
    normed = blocked.withColumn("_norm", l2_norm(F.col("v"))).select(
        "id",
        "blk",
        F.transform(
            F.col("v"), lambda x: F.try_divide(x.cast("double"), F.col("_norm"))
        ).alias("v"),
    )
    a, b = normed.alias("a"), normed.alias("b")
    cand = a.join(
        b,
        on=[F.col("a.blk") == F.col("b.blk"), F.col("a.id") < F.col("b.id")],
    )
    scored = cand.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        # nanvl: a NaN element yields a NaN dot, and Spark's total-order
        # comparison semantics make `NaN >= threshold` TRUE — a corrupt
        # vector would pair with every block-mate. NULL instead fails
        # the predicate, matching the Arrow kernel (numpy NaN >= t is
        # False). One fold evaluation (no when() re-inlining).
        F.nanvl(
            dot(F.col("a.v"), F.col("b.v")), F.lit(None).cast("double")
        ).alias("_cos"),
        *( [F.col("a.blk").alias("_blk")] if keep_block else [] ),
    )
    tail = [F.col("_blk").alias(block_col)] if keep_block else []
    return scored.filter(F.col("_cos") >= threshold).select(
        "id_a", "id_b", F.round("_cos", 4).alias("cos_sim"), *tail
    )


def hyperplane_signature(
    vec_col: Column, planes: Sequence[Sequence[float]]
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(dot(v, plane_i)),
    packed into a bigint. Deterministic given the plane set (callers derive
    planes from a seeded RNG driver-side)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        sig = sig.bitwiseOR(
            F.when(dot(vec_col, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    return sig


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    planes: Sequence[Sequence[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 2,
) -> DataFrame:
    """B33 scale path — approximate top-k: prefilter to vectors whose
    hyperplane signature is within ``max_hamming`` bits of the query's,
    then exact cosine + TakeOrdered on the survivors.

    On a 100 TB corpus the signature (8 bytes) would be precomputed and
    stored partitioned by signature prefix, turning the prefilter into
    partition pruning; here it is computed in the same scan.
    """
    sig = hyperplane_signature(F.col(vec_col), planes)
    # Query signature folded constant: compute driver-side with the same math.
    qsig = 0
    for i, p in enumerate(planes):
        s = sum(float(x) * float(y) for x, y in zip(query_vec, p))
        if s > 0:
            qsig |= 1 << i
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = df.select(F.col(id_col), F.col(vec_col), sig.alias("_sig")).filter(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
    )
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), q).alias("_cos"))
    return (
        scored.orderBy(F.col("_cos").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round("_cos", 4).alias("cos_sim"))
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
) -> list[list[float]]:
    """Train IVF coarse centroids: Lloyd's k-means on a bounded,
    deterministic sample (lowest ``id_col`` rows), driver-side in numpy.

    Training on a sample is the production IVF shape (FAISS trains on
    ~30×k vectors regardless of corpus size); only assignment and search
    are distributed, so the collect here is O(sample_n · dim), not O(n).
    Vectors are L2-normalized first (spherical k-means) so nearest-centroid
    by L2 distance agrees with cosine ranking at search time. Deterministic:
    init is the first k sample vectors, ties break to the lower cell index.
    """
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cent = x[:k].copy()
    for _ in range(iters):
        # argmin ||x - c||^2 == argmax x·c on the unit sphere
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            m = x[assign == j]
            if len(m):
                cent[j] = m.mean(axis=0)
                cent[j] /= max(np.linalg.norm(cent[j]), 1e-12)
    return cent.tolist()


def centroid_assign(vec_col: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """Nearest-centroid cell id for one vector as a pure-builtin Column —
    an array of (negated cosine score, cell index) structs reduced with
    ``array_min`` (struct ordering = argmax score, lower-index tiebreak).

    Composable anywhere a Column fits, but NOT the default path:
    higher-order array builtins are CodegenFallback (interpreted, boxed),
    and k centroids × dim multiplies per row that way measured ~30× slower
    than the Arrow kernel in ``ivf_assign`` — which is one numpy matmul
    per batch. Use this form only for tiny k or expression-only contexts.
    """
    norm = l2_norm(vec_col)
    scored = [
        F.struct(
            # try_divide + NaN-coalesce: a zero-norm vector would raise
            # DIVIDE_BY_ZERO under ANSI; as NULL it would sort FIRST in
            # array_min and steal cell 0 by accident rather than by
            # contract. Coalesced to NaN every cell ties as "no score"
            # and the index tiebreak assigns cell 0 deterministically.
            F.coalesce(
                F.try_divide(
                    -dot(vec_col, F.array(*[F.lit(float(v)) for v in c])),
                    norm,
                ),
                F.lit(float("nan")),
            ).alias("d"),
            F.lit(i).alias("i"),
        )
        for i, c in enumerate(centroids)
    ]
    return F.array_min(F.array(*scored))["i"]


def ivf_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Add the IVF cell id column: argmax-cosine over the (broadcast)
    centroid matrix, one numpy matmul per Arrow batch — the dense k×dim
    scoring IS a matmul, so this is the vectorized fast path (ties break
    to the lower cell index, matching ``centroid_assign``).

    At 100 TB this runs once at ingest and the table is written
    ``partitionBy(cell_col)``, so probe-time filters become partition
    pruning instead of a scan."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        # ||x|| is constant across cells, so argmax cosine == argmax dot
        # with unit centroids; np.argmax ties break to the lower index.
        return pd.Series(np.argmax(x @ cn.T, axis=1).astype("int32"))

    return df.withColumn(cell_col, _assign(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """B33 scale path — IVF (inverted-file) approximate top-k.

    Rank centroids by cosine to the query driver-side, keep the ``nprobe``
    nearest cells, filter rows to those cells (partition pruning when the
    table is stored partitioned by cell), then exact cosine + TakeOrdered
    on the survivors. ``nprobe=len(centroids)`` probes every cell and is
    exact — the correctness gate; small ``nprobe`` is the latency knob.
    """
    import numpy as np

    if nprobe is None:
        nprobe = max(1, len(centroids) // 4)
    q = np.asarray(query_vec, dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    scores = (c @ q) / (
        np.maximum(np.linalg.norm(c, axis=1), 1e-12) * max(np.linalg.norm(q), 1e-12)
    )
    probe = [int(i) for i in np.argsort(-scores)[:nprobe]]
    cand = ivf_assign(df, centroids, vec_col=vec_col).filter(
        F.col("ivf_cell").isin(probe)
    )
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), qlit).alias("_cos"))
    return (
        scored.orderBy(F.col("_cos").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round("_cos", 4).alias("cos_sim"))
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """North-star scale path — per-vector symmetric int8 quantization:
    ``scale = max(|x|)/127``, ``q_i = round(x_i/scale)`` (so q in
    [-127, 127]; an all-zero vector quantizes to zeros with scale 0).

    At 100 TB the embedding column dominates storage and shuffle: int8
    codes are 4× smaller than float32 (the corpus-wide dot-product scan
    becomes integer SIMD work), and the (qvec, qscale) pair is the
    persistable compressed index — the standard scalar-quantization tier
    below IVF/PQ in any vector store. Dequantization error is bounded by
    scale/2 per element, and COSINE between quantized vectors needs no
    dequantization at all: the per-vector scales cancel, so scoring is
    pure integer dot / integer norms — exactly reproducible on any engine
    (both Spark and DuckDB round ties away from zero).

    All row-local builtins — transform/aggregate, no shuffle, scan-speed.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    amax = F.aggregate(
        x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
    )
    d = df.withColumn("_amax", amax)
    scale = F.col("_amax") / F.lit(127.0)
    q = F.transform(
        F.col(vec_col),
        lambda v: F.when(F.col("_amax") == 0.0, F.lit(0))
        .otherwise(F.round(v.cast("double") / scale, 0))
        .cast("int"),
    )
    return d.select(
        F.col(id_col), q.alias(qvec_col), scale.alias(scale_col)
    )


def quantized_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """B33/north-star — cosine top-k over the int8-quantized corpus.

    The query is a row of the SAME quantized table (quantize once, query
    many — the production shape; also keeps every rounding decision
    engine-side, so the result is exactly oracle-able with no driver-side
    float handling). Scoring: integer dot / sqrt(integer norms) — the
    per-vector scales cancel out of cosine, so the only floating-point
    step is the final division. One cheap 1-row-filtered pass extracts
    and broadcasts the query code; the corpus pass is then scan +
    TakeOrdered: embarrassingly parallel, no shuffle.
    """
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda v: v.cast("long") * v.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # Norms materialize as columns ONCE: referencing the aggregate lambda
    # inside both the null-guard and the denominator would re-evaluate the
    # O(dim) fold up to four times per row.
    qt = quantize_embeddings(df, id_col=id_col, vec_col=vec_col).withColumn(
        "_na", nrm("qvec")
    )
    qrow = qt.filter(F.col(id_col) == query_id).select(
        F.col("qvec").alias("_qq"), F.col("_na").alias("_nq")
    )
    joined = qt.crossJoin(F.broadcast(qrow))
    dot_i = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("_qq"),
            lambda a, b: (a.cast("long") * b.cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos = F.when(
        (F.col("_na") == 0) | (F.col("_nq") == 0), F.lit(None).cast("double")
    ).otherwise(
        dot_i / F.sqrt(F.col("_na").cast("double") * F.col("_nq").cast("double"))
    )
    scored = joined.select(F.col(id_col), cos.alias("_cos"))
    return (
        scored.orderBy(F.col("_cos").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round("_cos", 4).alias("qcos_sim"))
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label element-wise mean vector, computed FULLY DISTRIBUTED
    (unlike :func:`kmeans_centroids`' bounded driver-side training sample):
    posexplode to (label, pos, val), one hash aggregate per (label, pos) —
    map-side combined, shuffle carries labels × dim keys, not rows — then
    reassemble each centroid with a position-sorted collect_list. This is
    the k-means update step (and the class-prototype builder for
    nearest-centroid classification) at any corpus size; dim is a small
    constant, so the exploded volume is dim × rows within one codegen'd
    stage, never materialized.

    Returns (label, centroid array<double>).
    """
    e = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    m = e.groupBy(label_col, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("m")
    )
    return m.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def nearest_centroid_confusion(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-class-centroid assignment + confusion counts: build the
    per-label prototypes (:func:`label_centroids`), assign every vector to
    its closest prototype by squared L2, and count (true label, assigned
    label) pairs — one k-means E-step plus the standard label-coherence
    diagnostic for an embedding column.

    Plan: centroids are |labels| rows → broadcast; the vector × centroid
    scoring is a broadcast nested-loop over a CONSTANT small side (the
    canonical assignment shape — each row scores k prototypes in place),
    then argmin via min_by in a map-side-combined aggregate keyed on the
    vector id, then a tiny count aggregate. The only data-sized shuffle is
    the argmin aggregate; EXACT distance ties break to the lower label.
    The float-free output makes the result robust to the fp-ulp
    differences in centroid/distance accumulation order between engines —
    an assignment can only flip when two centroids are equidistant to
    within ~1e-16 relative, which separated prototypes (the meaningful
    regime) don't produce; degenerate duplicate-centroid inputs could.

    Returns (label, assigned_label, n_vecs).
    """
    vecs = df.select(
        F.col(id_col),
        F.col(label_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    cents = label_centroids(df, label_col, vec_col).select(
        F.col(label_col).alias("_c_label"), F.col("centroid").alias("_c")
    )
    diff = F.zip_with("_v", "_c", lambda a, b: (a - b) * (a - b))
    dist2 = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn("_d2", dist2)
    assigned = scored.groupBy(id_col).agg(
        F.min_by("_c_label", F.struct(F.col("_d2"), F.col("_c_label"))).alias(
            "assigned_label"
        ),
        F.first(label_col).alias(label_col),
    )
    return (
        assigned.groupBy(label_col, "assigned_label")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
) -> list[list[list[float]]]:
    """B33 — train product-quantization codebooks: split each (L2
    normalized) vector into ``m`` contiguous subspaces and run an
    independent k-means (``ksub`` codewords) per subspace — the FAISS
    ``PQm x ksub`` workhorse tier below IVF. An encoded vector is then
    ``m`` codeword indices — 8 bytes at the defaults vs 256 for a
    float32 dim-64 vector, a 32x compression of the index that turns
    the 100 TB corpus-scan into a code-table scan.

    Like :func:`kmeans_centroids`, training runs driver-side on a
    bounded deterministic sample (lowest ``id_col`` rows — the FAISS
    posture: train on ~thousands of vectors regardless of corpus size);
    encoding and search stay distributed. Deterministic: init is the
    first ``ksub`` sample subvectors; np.argmin ties break low.

    Returns codebooks ``[m][ksub][dim/m]``. The vector dimension must
    be divisible by ``m``.
    """
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        cent = xs[:ksub].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(ksub):
                mm = xs[assign == j]
                if len(mm):
                    cent[j] = mm.mean(axis=0)
        books.append(cent.tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """B33 — encode vectors to PQ codes: per subspace, the index of the
    L2-nearest codeword of the normalized subvector. One numpy pass per
    Arrow batch (the per-subspace distance is a matmul expansion), no
    shuffle — at 100 TB this runs once at ingest and the persisted
    (id, m-byte code) table IS the search index.

    Returns (id_col, code_col: array<int>).
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)  # [m, ksub, dsub]
    m, ksub, dsub = books.shape
    # ||xs - c||^2 = ||xs||^2 - 2 xs·c + ||c||^2; per-row argmin drops ||xs||^2.
    cnorm2 = (books**2).sum(axis=2)  # [m, ksub]

    @F.pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        xs = x.reshape(len(x), m, dsub)  # [n, m, dsub]
        # scores[n, m, ksub] = -2*xs·c + ||c||^2  (argmin == L2 argmin)
        scores = -2.0 * np.einsum("nmd,mkd->nmk", xs, books) + cnorm2[None]
        codes = np.argmin(scores, axis=2).astype("int32")
        return pd.Series(list(codes))

    return df.select(id_col, _enc(F.col(vec_col)).alias(code_col))


def pq_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    shortlist: int | None = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """B33 scale path — PQ asymmetric-distance top-k with exact re-rank.

    Search runs in two tiers, the production ANN shape:

        1. **ADC scan over codes**: the query's per-subspace inner
           products against every codeword form an ``m x ksub`` lookup
           table (driver-side numpy, a few KB, shipped in the UDF
           closure); each corpus vector's approximate cosine is then m
           table lookups over its code — the scan touches only the
           m-byte codes, never the float vectors. TakeOrdered keeps the
           ``shortlist`` best (per-partition heaps).
        2. **Exact re-rank**: the shortlist (a driver-bounded id set)
           joins back to the float vectors — a broadcast join touching
           ``shortlist`` rows of the full-width table — and exact cosine
           + TakeOrdered returns the final k.

    ``shortlist=None`` bypasses the ADC cut entirely — every encoded id
    flows to the re-rank (the plan still runs encode, so a hash match
    proves it neither drops nor duplicates rows), which is exact by
    construction: the correctness gate. Do NOT emulate it with a huge
    shortlist integer: TakeOrdered allocates a k-slot heap buffer PER
    PARTITION, so a billion-row "limit" is an OOM, not a no-op (found
    the hard way at sf0.1). Small shortlists are the latency knob,
    recall-tested in tests. Ties break on id everywhere.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    table = np.einsum("md,mkd->mk", q.reshape(m, dsub), books)  # [m, ksub]

    @F.pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        c = np.stack([np.asarray(v, dtype=np.int64) for v in codes])
        return pd.Series(table[np.arange(m)[None, :], c].sum(axis=1))

    coded = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    if shortlist is None:
        # Exact gate: no ADC cut, no broadcast hint (the candidate set is
        # the whole corpus — let Catalyst pick the join strategy).
        cand = coded.select(id_col)
        joined = df.join(cand, on=id_col)
    else:
        cand = (
            coded.select(id_col, _adc(F.col("pq_code")).alias("_adc"))
            .orderBy(F.col("_adc").desc(), F.col(id_col).asc())
            .limit(int(shortlist))
            .select(id_col)
        )
        joined = df.join(F.broadcast(cand), on=id_col)
    qlit = F.array(*[F.lit(float(v)) for v in query_vec])
    rerank = joined.select(
        F.col(id_col), cosine(F.col(vec_col), qlit).alias("_cos")
    )
    return (
        rerank.orderBy(F.col("_cos").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round("_cos", 4).alias("cos_sim"))
    )


def semantic_join(
    left: DataFrame,
    right: DataFrame,
    centroids: Sequence[Sequence[float]],
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    arrow_kernel: bool = True,
) -> DataFrame:
    """B33 — semantic (embedding) join: for every LEFT row, the single
    nearest RIGHT row by cosine — the entity-resolution / "match this
    record against the catalog" primitive, where both sides are large
    tables (unlike :func:`cosine_topk_multi`, whose query side must
    broadcast).

    ``arrow_kernel=True`` (default, same rationale as
    :func:`cosine_neardup_pairs`): candidates are scored per cell by a
    cogrouped ``applyInPandas`` kernel — numpy row-normalize + one BLAS
    matmul per cell pair, emitting each left row's per-cell winner; a
    tiny global min settles across cells. Spark's higher-order folds
    are CodegenFallback (interpreted, boxed), so the JVM per-pair dot
    dominates on candidate-heavy cells (measured 3.1s → 0.9s on the
    sf0.1 exhaustive probe; the gap widens with cell population since
    the kernel's matmul amortizes per-batch overhead). The matmul's summation ORDER differs
    from a sequential fold at ~1e-16 relative — winners are identical
    except on exact-tie knife edges, but a hash-exact oracle comparison
    should use ``arrow_kernel=False`` (the left-to-right fold, matching
    any sequential SQL oracle bit-for-bit — what the registered query
    does). NULL vector ELEMENTS score NaN on BOTH paths (the kernel
    sees them as NaN in the matmul; the fold's NULL dot is coalesced to
    NaN below) — "no valid score", losing to any real match, with a
    left row whose every candidate is unscorable emitting cos_sim NaN;
    ragged vectors fail in ``np.stack`` either way.

    Scale shape — the IVF idea applied to a join: both sides get a
    coarse-centroid cell id (Arrow matmul, :func:`ivf_assign`); the left
    side is exploded to its ``nprobe`` nearest cells; candidates come
    from an EQUI-JOIN on the cell id (a plain shuffled hash join — never
    a cross product); exact cosine + a per-left-row top-1 window settles
    the match. Cost ∝ sum of cell-pair sizes — which makes the CELL
    COUNT the scale contract: SIZE ncells TO THE CORPUS (bounded cell
    population, the FAISS rule). With ncells fixed, cell-pair cost grows
    as n²/ncells (measured: 11× wall at 10× corpus in the scale probe);
    with ncells ∝ n it stays linear (measured flat). Both shuffles carry
    (cell, id, vector) — at 100 TB you pre-partition both tables by cell
    at ingest and the join co-locates for free.

    ``nprobe=None`` probes every cell: candidates are exhaustive, the
    result is the exact nearest neighbor — the correctness gate the
    registered query hash-matches against brute force. Small ``nprobe``
    is the latency knob (recall pinned in tests); a left row whose
    probed cells hold no right rows drops out (inner-join semantics —
    the no-match sentinel a caller can recover with a left join on the
    result).

    Ties break to the lower right id. Output: (l_<id>, r_<id>, cos_sim).
    """
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    ncell = len(c)
    np_ = ncell if nprobe is None else min(int(nprobe), ncell)
    if np_ < 1:
        raise ValueError("nprobe must be >= 1")
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("array<int>")
    def _cells(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        sc = x @ cn.T
        order = np.argsort(-sc, axis=1, kind="stable")[:, :np_].astype("int32")
        return pd.Series(list(order))

    lv_base = left.select(
        F.col(id_col).alias("_lid"), F.col(vec_col).alias("_lv")
    )
    rv_base = right.select(
        F.col(id_col).alias("_rid"), F.col(vec_col).alias("_rv")
    )
    if arrow_kernel:
        # Cogrouped per-cell matmul: one shuffle of each side on the
        # cell id, then numpy row-normalize + BLAS scores for the whole
        # cell pair at once; each left row emits its PER-CELL winner
        # (argmax over rid-sorted columns → first max = lowest rid, the
        # stated tiebreak), and the global min below settles across the
        # ≤ nprobe cells per left row. Shuffled payload is identical to
        # the join form — (cell, id, vector) — so the 100 TB posture
        # (pre-partition both tables by cell at ingest) is unchanged.
        lv = lv_base.withColumn("_cell", F.explode(_cells(F.col("_lv"))))
        rv = ivf_assign(rv_base, centroids, vec_col="_rv", cell_col="_cell")
        lid_t = dict(left.dtypes)[id_col]
        rid_t = dict(right.dtypes)[id_col]

        def _cell_best(lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
            if len(lp) == 0 or len(rp) == 0:
                return pd.DataFrame({"_lid": [], "_rid": [], "_cos": []})
            rp = rp.sort_values("_rid", kind="stable")
            x = np.stack([np.asarray(v, dtype=np.float64) for v in lp["_lv"]])
            y = np.stack([np.asarray(v, dtype=np.float64) for v in rp["_rv"]])
            s = (x @ y.T) / (
                np.linalg.norm(x, axis=1, keepdims=True)
                * np.linalg.norm(y, axis=1, keepdims=True).T
            )
            # NaN (zero-norm / NULL-element) candidates must lose the
            # argmax — numpy's argmax would otherwise return the NaN.
            sel = np.where(np.isnan(s), -np.inf, s)
            j = np.argmax(sel, axis=1)
            return pd.DataFrame(
                {
                    "_lid": lp["_lid"].to_numpy(),
                    "_rid": rp["_rid"].to_numpy()[j],
                    "_cos": s[np.arange(len(lp)), j],
                }
            )

        cand = (
            lv.groupBy("_cell")
            .cogroup(rv.groupBy("_cell"))
            .applyInPandas(
                _cell_best, f"_lid {lid_t}, _rid {rid_t}, _cos double"
            )
        )
    else:
        # Exact-fold form: per-row norms are projected ONCE PER ROW
        # below the join (left: before the nprobe explode; right:
        # before the broadcast/shuffle), so the per-candidate-pair work
        # is a single interpreted array fold (the dot) instead of three
        # — cosine()'s inline norms would re-fold each side's
        # self-product per PAIR. Bitwise-identical to a sequential SQL
        # oracle: the same left-to-right fold over the same values.
        lv = (
            lv_base.withColumn("_ln", l2_norm(F.col("_lv")))
            .withColumn("_cell", F.explode(_cells(F.col("_lv"))))
        )
        rv = ivf_assign(
            rv_base, centroids, vec_col="_rv", cell_col="_cell"
        ).withColumn("_rn", l2_norm(F.col("_rv")))
        # try_divide, not `/`: under ANSI (Spark 4 default) a zero-norm
        # vector would raise DIVIDE_BY_ZERO and kill the job instead of
        # reaching the documented NaN loser class below — try_divide's
        # NULL feeds the same coalesce(-_cos, NaN).
        cand = lv.join(rv, on="_cell").select(
            "_lid",
            "_rid",
            F.try_divide(
                dot(F.col("_lv"), F.col("_rv")),
                F.col("_ln") * F.col("_rn"),
            ).alias("_cos"),
        )
    # Top-1 per left row as min(struct(-cos, rid)) rather than a
    # row_number window: the hash aggregate combines MAP-SIDE, so the
    # shuffle carries one row per (task, left id) instead of the FULL
    # candidate set (|L|·|R|/ncells rows — 12M at the sf0.1 exhaustive
    # gate, all of which the window had to sort). Struct ordering is
    # field-by-field, so min picks the lowest NEGATED cosine (= highest
    # cosine), then the LOWEST right id — the same stated tiebreak, on
    # unrounded scores. The negation rides the DOUBLE score, never the
    # id, so any orderable id type (string, timestamp, …) works exactly
    # as the window form did. NaN scores (zero-norm vectors) sort
    # LARGEST under min and therefore lose to any real match — stated.
    # NULL-score guard (ADVICE r11): a NULL _cos would sort FIRST under
    # ascending struct comparison and silently win top-1 (the old
    # window's _cos.desc() put NULLs last) — reachable on the fold path
    # via a NULL vector ELEMENT (the fold propagates it to a NULL dot).
    # HOW the guard is written matters, twice over: (1) a
    # pre-aggregation .filter(_cos.isNotNull()) is pushed through the
    # projection into the hash join as an isnotnull(<dot>) JOIN
    # CONDITION; (2) a when(isnotnull(_cos), ...) wrapper has the
    # projected _cos INLINED into both branches of the aggregate input
    # (no common-subexpression elimination for interpreted folds) —
    # each form re-evaluates the fold per candidate pair (measured
    # 1.1s -> 11.2s resp. 3.2s on the sf0.1 bench).
    # coalesce(-_cos, NaN) keeps exactly ONE fold evaluation and maps a
    # NULL score into the SAME "no valid score" class as a zero-norm
    # NaN: Spark orders finite < +inf < NaN, so such candidates lose to
    # every real match, and a left row with NO scorable candidate emits
    # cos_sim NaN — on BOTH paths (the Arrow kernel sees NULL elements
    # as NaN in the matmul and cannot distinguish them, so aligning the
    # fold to NaN is what keeps kernel/fold parity; NaN ties break to
    # the lowest right id under Spark's total order, same as the
    # kernel's rid-sorted argmax).
    best = F.min(
        F.struct(
            F.coalesce(-F.col("_cos"), F.lit(float("nan"))).alias("nc"),
            F.col("_rid").alias("r"),
        )
    ).alias("_b")
    return (
        cand.groupBy("_lid")
        .agg(best)
        .select(
            F.col("_lid").alias(f"{left_prefix}{id_col}"),
            F.col("_b.r").alias(f"{right_prefix}{id_col}"),
            F.round(-F.col("_b.nc"), 4).alias("cos_sim"),
        )
    )


def embedding_health(
    df: DataFrame,
    expected_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """B33/B28 — embedding-column health audit: the data-quality gate an
    embedding pipeline runs BEFORE building any index (a single bad batch
    from an encoder ships NULLs, zero vectors, NaNs, or wrong dims — and
    every one of those silently poisons cosine math downstream). One row
    of exact integer counts:

      n_vecs           total rows
      n_null_vecs      NULL embedding cells
      n_dim_mismatch   non-NULL vectors whose length != expected_dim
      n_zero_vecs      vectors of all exact zeros (cosine undefined)
      n_nan_vecs       vectors containing a NaN element

    All-integer output — no rounding contract. Row-local higher-order
    functions (exists/size) in the scan stage feeding one map-side
    aggregate: scan-bound at any scale, no shuffle beyond the 1-row
    merge.
    """
    if expected_dim < 1:
        raise ValueError("expected_dim must be >= 1")
    v = F.col(vec_col)
    is_null = v.isNull()
    dim_bad = ~is_null & (F.size(v) != expected_dim)
    has_nan = ~is_null & F.exists(v, lambda x: F.isnan(x.cast("double")))
    all_zero = (
        ~is_null
        & ~has_nan
        & (F.size(v) > 0)
        & ~F.exists(v, lambda x: x.cast("double") != 0.0)
    )
    one = F.lit(1)
    zero = F.lit(0)
    return df.agg(
        F.count(one).cast("long").alias("n_vecs"),
        F.sum(F.when(is_null, one).otherwise(zero)).cast("long").alias("n_null_vecs"),
        F.sum(F.when(dim_bad, one).otherwise(zero)).cast("long").alias("n_dim_mismatch"),
        F.sum(F.when(all_zero, one).otherwise(zero)).cast("long").alias("n_zero_vecs"),
        F.sum(F.when(has_nan, one).otherwise(zero)).cast("long").alias("n_nan_vecs"),
    )


def matryoshka_recall(
    df: DataFrame,
    queries: DataFrame,
    dims: Sequence[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    shards: int = 32,
) -> DataFrame:
    """B33 — Matryoshka / prefix-truncation evaluation: for each candidate
    prefix dimension d, what share of the FULL-dimension exact cosine
    top-k does the d-dimensional prefix recover? The one-table answer to
    "how short can I cut the embeddings before the index lies" — the
    sizing decision for MRL-style embeddings, where serving at d dims
    costs d/D of the memory and FLOPs of the full index (int8/PQ stack
    multiplies on top).

      dim         evaluated prefix length (0 rows never appear; the
                  full dimension is the reference, not a row)
      n_queries   evaluation queries
      k           depth of the comparison
      hits        Σ over queries of |topk_d ∩ topk_full| — exact
      recall_bp   hits · 10000 div (n_queries · k) — exact integer

    All-integer output: the float cosine only picks the top-k SETS
    (deterministic: unrounded score ordering with id tiebreak, the
    proven cosine_topk contract); set intersection and the recall ratio
    are integer arithmetic, so the row is bit-identical cross-engine.

    Plan shape (r14, guide §6/§2.4 — single-scan multi-dim scoring): the
    corpus is scanned ONCE; each (query, vector) pair emits one scored
    row per evaluated slice via an explode over (dim, cosine) structs
    (marker dim 0 = the full-dimension reference — dims are >= 1, so the
    marker can't collide), and ONE two-level per-(dim, query, shard)
    top-k covers every dimension in a single pair of window exchanges —
    where the former shape re-scanned the corpus and re-ran both windows
    once per dimension, plus once per dimension for the broadcast
    full-dim reference (2·|dims| scans at |dims| evaluated prefixes).
    The cosine work is unchanged (each pair still scores |dims|+1
    slices); the truncated winners LEFT SEMI join the full-dim winners
    on (query, id) — both sides of that tiny join hang off the SAME
    window subtree, so the heavy exchange is planned once and reused —
    and collapse to a |dims|-row report (dims with zero hits keep their
    row via the left join against the literal dim list, as the old
    per-dim count aggregate did). ``queries`` is a small broadcast
    table, as in cosine_topk_multi.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not dims or any(d < 1 for d in dims) or len(set(dims)) != len(dims):
        raise ValueError("dims must be non-empty distinct positive prefix lengths")
    from pyspark.sql import Window

    qb = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("_qv")
        )
    )

    def _cos(slice_dim: int | None):
        v, qv = F.col(vec_col), F.col("_qv")
        if slice_dim is not None:
            v = F.slice(v, 1, int(slice_dim))
            qv = F.slice(qv, 1, int(slice_dim))
        return cosine(v, qv)

    entries = [F.struct(F.lit(0).alias("_d"), _cos(None).alias("_cos"))] + [
        F.struct(F.lit(int(d)).alias("_d"), _cos(int(d)).alias("_cos"))
        for d in dims
    ]
    scored = (
        df.crossJoin(qb)
        .select(
            query_id_col,
            F.col(id_col),
            F.explode(F.array(*entries)).alias("_e"),
        )
        .select(
            query_id_col,
            id_col,
            F.col("_e._d").alias("_d"),
            F.col("_e._cos").alias("_cos"),
        )
    )
    shard = F.pmod(F.hash(F.col(id_col)), F.lit(shards))
    w1 = Window.partitionBy("_d", query_id_col, shard).orderBy(
        F.col("_cos").desc_nulls_last(), F.col(id_col).asc()
    )
    local = scored.withColumn("_rn", F.row_number().over(w1)).filter(
        F.col("_rn") <= k
    )
    w2 = Window.partitionBy("_d", query_id_col).orderBy(
        F.col("_cos").desc_nulls_last(), F.col(id_col).asc()
    )
    topk = (
        local.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .select("_d", query_id_col, id_col)
    )
    full = topk.filter(F.col("_d") == 0).select(query_id_col, id_col)
    hits = (
        topk.filter(F.col("_d") != 0)
        .join(full, [query_id_col, id_col], "left_semi")
        .groupBy(F.col("_d").cast("long").alias("dim"))
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    n_q = F.broadcast(
        queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    )
    dim_rows = n_q.select(
        F.explode(
            F.array(*[F.lit(int(d)).cast("long") for d in dims])
        ).alias("dim"),
        "n_queries",
    )
    return (
        dim_rows.join(hits, on="dim", how="left")
        .withColumn("hits", F.coalesce("hits", F.lit(0).cast("long")))
        .select(
            "dim",
            "n_queries",
            F.lit(int(k)).cast("long").alias("k"),
            "hits",
            F.expr(f"(hits * 10000) div (n_queries * {int(k)})").alias(
                "recall_bp"
            ),
        )
    )


def index_memory_planner(
    df: DataFrame,
    budget_bytes: int,
    vec_col: str = "embedding",
    ivf_cells: int = 1024,
    pq_m: int = 8,
    pq_codebook: int = 256,
) -> DataFrame:
    """B33 — the PLANNER for the vector-index tier ladder (the
    lsh_power_curve posture applied to memory): given the corpus census
    (n vectors × d dims) and a per-node-fleet memory budget, price every
    index variant this engine actually implements and say which fit —
    the decision table you consult BEFORE building anything, next to
    :func:`matryoshka_recall`'s quality half of the same decision.

      variant      fp32_exact        n·d·4            (cosine_topk)
                   int8_scalar       n·(d+8)          (quantized_topk:
                                     d code bytes + one f64 scale)
                   pq{m}x{log2 cb}   n·m + cb·d·4     (pq_topk: m code
                                     bytes + f32 codebooks)
                   ivf_fp32          n·d·4 + cells·d·4 + n·4
                                     (ivf_topk: raw vectors + f32
                                     centroids + an int32 cell id)
                   ivf_int8          n·(d+8) + cells·d·4 + n·4
      n_vectors/dim  the census the prices derive from
      bytes          exact integer cost of the variant
      ratio_bp       bytes · 10000 div fp32 bytes (compression ratio)
      fits           bytes <= budget_bytes

    All integers from a 1-row census (count + max array size — max, not
    first, so a ragged corpus prices its worst case); the variant table
    is a bounded literal expansion. Nothing scans the vectors
    themselves beyond the size probe. Engine-exact by construction.
    """
    if budget_bytes < 1:
        raise ValueError("budget_bytes must be >= 1")
    census = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max(F.size(F.col(vec_col))).cast("long").alias("dim"),
    )
    cells, m, cb = int(ivf_cells), int(pq_m), int(pq_codebook)
    variants = [
        ("fp32_exact", "n_vectors * dim * 4"),
        ("int8_scalar", "n_vectors * (dim + 8)"),
        (
            f"pq{m}x{cb.bit_length() - 1}",
            f"n_vectors * {m} + {cb} * dim * 4",
        ),
        (
            "ivf_fp32",
            f"n_vectors * dim * 4 + {cells} * dim * 4 + n_vectors * 4",
        ),
        (
            "ivf_int8",
            f"n_vectors * (dim + 8) + {cells} * dim * 4 + n_vectors * 4",
        ),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("variant"),
                F.expr(expr).cast("long").alias("bytes"),
            )
            for name, expr in variants
        ]
    )
    out = census.select(
        "n_vectors", "dim", F.explode(rows).alias("_v")
    ).select("n_vectors", "dim", "_v.variant", "_v.bytes")
    # ratio numerator bytes·10000 exceeds int64 at ~9e14 bytes (a petabyte
    # index is in-scope) — lift to DECIMAL(38,0) before the multiply.
    return out.select(
        "variant",
        "n_vectors",
        "dim",
        "bytes",
        F.expr(
            "CAST((CAST(bytes AS DECIMAL(38,0)) * 10000)"
            " div (n_vectors * dim * 4) AS BIGINT)"
        ).alias("ratio_bp"),
        (F.col("bytes") <= F.lit(int(budget_bytes))).alias("fits"),
    )


def binary_quantize(vec_col: Column, dim: int) -> Column:
    """1-bit (sign) quantization of a ``dim``-float vector into
    ``ceil(dim/64)`` packed int64 words — 32× smaller than float32, and
    Hamming distance between codes approximates angular distance well
    enough to shortlist (the RaBitQ/binary-embedding family's storage
    layout). Bit i of word w is set when element w·64+i is > 0 (ties at
    exactly 0.0 → 0; stated). A NULL element maps to a 0-bit — the same
    as a non-positive value, so NULL-ragged vectors quantize without
    erroring; any mirror (oracle SQL included) must coalesce the sign
    predicate to FALSE to match. Pure integer CASE/shift expressions —
    codegen'd, no UDF."""
    words = []
    for w in range((dim + 63) // 64):
        bits = F.lit(0).cast("long")
        for i in range(w * 64, min(dim, (w + 1) * 64)):
            v = 1 << (i - w * 64)
            if v >= 1 << 63:
                # Bit 63 as a two's-complement long: adding -2^63 sets
                # the sign bit exactly (all lower bits sum to < 2^63,
                # so the total never leaves the int64 range — no ANSI
                # overflow).
                v -= 1 << 64
            bits = bits + F.when(
                vec_col[i] > 0, F.lit(v).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        words.append(bits)
    return F.array(*words)


def binary_hamming_topk(
    df: DataFrame,
    query_vec: "Sequence[float]",
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """B33 — binary-quantized nearest neighbors: Hamming distance between
    sign codes (:func:`binary_quantize`), top-``k`` by (distance ASC, id
    ASC — stated tiebreak). This is the memory-floor rung of the
    quantization ladder (float32 → int8 ``quantized_topk`` → PQ
    ``pq_topk`` → 1-bit here): a billion 64-dim vectors fit in 8 GB of
    codes, scanned with XOR+popcount inside whole-stage codegen, no
    Python anywhere. Production recipe: shortlist here, exact-rerank the
    survivors (compose with :func:`cosine_topk` over the shortlist);
    this operator ships the shortlist stage, whose top-k is an exact
    integer function of the data — the oracle recomputes the identical
    sign-mismatch count positionally.

    Input contract (stated because the oracle must mirror it): rows
    whose vector is shorter than ``len(query_vec)`` are DROPPED (the
    ``size(vec) >= dim`` filter below — a truncated vector has no
    well-defined code); NULL ELEMENTS quantize to a 0-bit (see
    :func:`binary_quantize`), so against a query 1-bit they count as a
    mismatch. A mirroring oracle needs the same length filter and a
    FALSE-coalesced sign predicate; fixed-dim NULL-free corpora (the
    fixtures) are unaffected.

    Plan: one scan projecting the packed code, XOR against the 1-row
    broadcast query code, bit_count sum, TakeOrderedAndProject — zero
    shuffles.
    """
    dim = len(query_vec)
    qwords = []
    for w in range((dim + 63) // 64):
        bits = 0
        for i in range(w * 64, min(dim, (w + 1) * 64)):
            # NULL query elements pack to a 0-bit — the same convention
            # binary_quantize applies to corpus vectors and the oracle's
            # FALSE-coalesced sign predicate applies to q.qe[i].
            if query_vec[i] is not None and float(query_vec[i]) > 0:
                bits |= 1 << (i - w * 64)
        # Python ints >= 2^63 would overflow the long literal; the sign
        # bit (i%64 == 63) is reinterpreted via two's complement.
        if bits >= 1 << 63:
            bits -= 1 << 64
        qwords.append(bits)
    code = binary_quantize(F.col(vec_col), dim)
    ham = F.lit(0).cast("long")
    for w, qw in enumerate(qwords):
        ham = ham + F.bit_count(
            code[w].bitwiseXOR(F.lit(qw).cast("long"))
        ).cast("long")
    return (
        df.filter(F.size(F.col(vec_col)) >= dim)
        .select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )
