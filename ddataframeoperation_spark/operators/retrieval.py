"""Hybrid retrieval fusion and retrieval-quality evaluation.

North-star companions to the retrieval pair the engine already ships —
``text.bm25_topk`` (lexical) and ``similarity.cosine_topk`` (dense):
fuse their candidate lists (reciprocal-rank fusion, the standard hybrid
scorer) and grade any ranked run against relevance judgments
(recall@k / MRR / nDCG@k). Both are pure DataFrame composition — ranks
come from windows PARTITIONED by query (a query's candidate list is
bounded by retrieval depth, never corpus-sized), fusion is a union +
sum aggregate, metrics are per-query joins + aggregates. Nothing here
scans a corpus: inputs are candidate lists and judgment tables.

(The reference platform exposed no retrieval surface — this extends the
declared engine the way SURVEY.md §2's similarity-search mandate
requires: brute/ANN search plus the evaluation loop that makes search
quality measurable.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "rrf_fusion",
    "retrieval_metrics",
    "mmr_diversify",
]


def rrf_fusion(
    lists: Sequence[DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    query_col: str | None = None,
    k_const: int = 60,
    out_col: str = "rrf_score",
) -> DataFrame:
    """Reciprocal-rank fusion of ranked candidate lists:
    ``rrf(d) = Σ_lists 1 / (k_const + rank_list(d))`` — the standard
    trained-weight-free hybrid-retrieval combiner (BM25 ∪ dense ANN).

    Each input carries (``id_col``, ``score_col``) plus ``query_col``
    when fusing multi-query runs; ranks are computed per list as
    row_number over (score DESC, id ASC) — deterministic under score
    ties, and engine-stable when scores are already rounded (the
    convention of the engine's top-k operators). A document missing
    from a list simply contributes nothing for it (the RRF convention).
    Dirty-input note: a NULL score sorts LAST under ``desc`` (Spark's
    default), so such a row ranks at the bottom of its list rather than
    erroring; a NULL id is a real fusion key (one NULL group) — the
    engine's top-k outputs produce neither.
    Output: one row per (query,) document with the fused score and the
    number of lists that ranked it.

    Scale: inputs are candidate lists — ALREADY top-k-pruned per query
    by the upstream retrievers, so each rank window sorts at most the
    retrieval depth per partition. With ``query_col`` the windows
    partition by query; without it each list IS one query's ≤k-row
    candidates and the un-partitioned window is bounded by that depth
    (never corpus-sized data — do not feed unpruned score tables).
    """
    if not lists:
        raise ValueError("rrf_fusion needs at least one ranked list")
    keys = ([query_col] if query_col else []) + [id_col]
    ranked = []
    for df in lists:
        w = (
            Window.partitionBy(query_col) if query_col else Window.partitionBy()
        ).orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        ranked.append(
            df.select(*keys, F.row_number().over(w).alias("_rank"))
        )
    allr = ranked[0]
    for r in ranked[1:]:
        allr = allr.unionByName(r)
    return allr.groupBy(*keys).agg(
        F.sum(1.0 / (F.lit(float(k_const)) + F.col("_rank"))).alias(out_col),
        F.count("*").alias("n_lists"),
    )


def retrieval_metrics(
    pred: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    grade_col: str = "grade",
) -> DataFrame:
    """Per-query retrieval quality of a ranked run against relevance
    judgments: ``recall_at_k``, ``mrr`` (reciprocal rank of the first
    relevant hit within the cutoff), and ``ndcg_at_k`` with graded
    relevance (``gain = 2^grade - 1``, log2 position discount; the
    ideal ranking orders judgments by grade DESC).

    ``pred`` is (query, doc, score); ``qrels`` is (query, doc, grade)
    with grade > 0 meaning relevant — graded or binary. Documents
    absent from qrels count as grade 0. Queries with no relevant
    judgment emit recall/ndcg 0 (not NULL), keeping macro averages
    well-defined. Scope contract: output has one row per query OF THE
    RUN — a query present only in ``qrels`` (the run returned nothing
    for it) emits no row, so it would silently drop out of a macro
    average; when grading partial runs, outer-join the metric rows back
    to the qrels query list and fill 0 before averaging.

    Plan: one rank window over predictions and one over judgments —
    both PARTITIONED by query (bounded by run depth / judgment count,
    never corpus-sized) — then an equi-join on (query, doc) and two
    per-query aggregates joined at |queries| size. Round to 4 decimals
    for cross-engine comparability.
    """
    wp = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    topk = (
        pred.select(query_col, id_col, F.row_number().over(wp).alias("_rank"))
        .filter(F.col("_rank") <= k)
    )
    g = F.coalesce(F.col(grade_col), F.lit(0)).cast("double")
    joined = topk.join(
        qrels.select(query_col, id_col, grade_col), on=[query_col, id_col],
        how="left",
    ).select(
        query_col,
        "_rank",
        g.alias("_g"),
    )
    got = joined.groupBy(query_col).agg(
        F.sum((F.col("_g") > 0).cast("long")).alias("_hits"),
        F.max(F.when(F.col("_g") > 0, 1.0 / F.col("_rank"))).alias("_rr"),
        F.sum(
            (F.pow(F.lit(2.0), F.col("_g")) - 1.0)
            / F.log2(F.col("_rank") + 1.0)
        ).alias("_dcg"),
    )
    wq = Window.partitionBy(query_col).orderBy(
        F.col(grade_col).cast("double").desc(), F.col(id_col).asc()
    )
    ideal = (
        qrels.filter(F.col(grade_col) > 0)
        .select(
            query_col,
            F.col(grade_col).cast("double").alias("_g"),
            F.row_number().over(wq).alias("_rank"),
        )
        .groupBy(query_col)
        .agg(
            F.count("*").alias("_n_rel"),
            F.sum(
                F.when(
                    F.col("_rank") <= k,
                    (F.pow(F.lit(2.0), F.col("_g")) - 1.0)
                    / F.log2(F.col("_rank") + 1.0),
                )
            ).alias("_idcg"),
        )
    )
    out = got.join(ideal, on=query_col, how="left")
    return out.select(
        query_col,
        F.round(
            F.when(
                F.coalesce(F.col("_n_rel"), F.lit(0)) > 0,
                F.col("_hits") / F.col("_n_rel"),
            ).otherwise(0.0),
            4,
        ).alias("recall_at_k"),
        F.round(F.coalesce(F.col("_rr"), F.lit(0.0)), 4).alias("mrr"),
        F.round(
            F.when(
                F.coalesce(F.col("_idcg"), F.lit(0.0)) > 0,
                F.col("_dcg") / F.col("_idcg"),
            ).otherwise(0.0),
            4,
        ).alias("ndcg_at_k"),
    )


def mmr_diversify(
    pred: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lamb: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    score_col: str = "cos_sim",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of each query's candidate
    list: greedily pick ``k`` documents maximizing
    ``lamb * relevance - (1 - lamb) * max_similarity_to_already_picked``
    — the standard redundancy-penalized diversifier between retrieval
    and a context window. Output is (query, doc, mmr_rank).

    ``pred`` is a CANDIDATE list (query, doc, relevance score — feed a
    top-N, not a scored corpus); ``vectors`` maps ``id_col`` to the
    embedding used for the redundancy penalty. Dirty-input contract: a
    candidate whose id is absent from ``vectors`` OR whose embedding is
    NULL is dropped before selection (no vector → no redundancy
    penalty is computable; without the NULL filter the Arrow kernel
    would throw mid-job on ``np.asarray(None)``) — so fewer than ``k``
    rows can come back for a query. A candidate with a NULL relevance
    score is kept but ranks after every scored candidate, NULLs ordered
    by smaller id, whatever the row order (the NULLs-last convention of
    the engine's top-k). Candidate (query, id) pairs are
    assumed unique (the upstream top-k contract); duplicates would be
    selected independently. The greedy loop runs in
    an Arrow-batched ``applyInPandas`` kernel per query — O(N²)
    pairwise cosines + O(N·k) selection over the ≤N-candidate group,
    row-local after one (candidate-list-sized) join and one shuffle by
    query. Determinism across engines: relevance arrives rounded (the
    engine's top-k convention), pairwise cosines round to ``decimals``
    before selection, and score ties break toward the smaller id — so
    a sequential SQL re-implementation (recursive-CTE argmax) picks the
    identical sequence.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    cand = pred.select(query_col, id_col, score_col).join(
        vectors.select(id_col, vec_col).filter(F.col(vec_col).isNotNull()),
        on=id_col,
    )
    out_schema = StructType(
        [
            cand.schema[query_col],
            cand.schema[id_col],
            StructField("mmr_rank", IntegerType()),
        ]
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        scored = ~np.isnan(rel)
        emb = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        norms = np.linalg.norm(emb, axis=1)
        sims = np.round((emb @ emb.T) / np.outer(norms, norms), decimals)
        n = len(ids)
        chosen: list[int] = []
        remaining = list(range(n))
        for _ in range(min(k, n)):
            best_i, best_key = None, None
            for i in remaining:
                pen = max((sims[i][j] for j in chosen), default=0.0)
                mmr = lamb * rel[i] - (1.0 - lamb) * pen if scored[i] else 0.0
                key = (bool(scored[i]), mmr, -int(ids[i]))
                if best_key is None or key > best_key:
                    best_i, best_key = i, key
            chosen.append(best_i)
            remaining.remove(best_i)
        return pd.DataFrame(
            {
                query_col: pdf[query_col].iloc[[0] * len(chosen)].to_numpy(),
                id_col: ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
            }
        )

    return cand.groupBy(query_col).applyInPandas(kernel, out_schema)
