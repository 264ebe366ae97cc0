"""Deduplication operators for training-data pipelines.

SURVEY.md §2 B31 (exact) / B32 (near-dup). North-star mandated (LLM-data
pipeline); no reference seed beyond ``dropDuplicates`` semantics being the
relational cousin of A5's part-union intent.

Scale notes (100 TB):
- exact dedup is one hash shuffle on the dedup key; dedup by a *digest* of
  a wide column (md5 of normalized text) instead of the raw column so the
  shuffle carries 16 bytes, not document bodies;
- MinHash/LSH near-dup is the scale path: candidate generation via
  band-bucket join touches only colliding pairs (~linear), never the O(n²)
  cross join. Exact pairwise Jaccard is provided for verification at test
  scale and as the refinement step applied to LSH candidates;
- all hashing is Spark's builtin xxhash64/murmur3 (JVM, codegen'd) — no
  Python in the hot path;
- the iterative graph operators (connected components, PageRank, HITS)
  and the materialized SimHash chunk index cut their lineage through one
  policy, :func:`_truncate`: a reliable checkpoint when the deployment
  sets ``spark.checkpoint.dir``, else an executor-local
  ``localCheckpoint``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ddataframeoperation_spark.operators.windows import latest_per_key

__all__ = [
    "dedup_by_key",
    "dedup_increment",
    "normalized_text",
    "fingerprint",
    "dedup_by_fingerprint",
    "ngram_shingles",
    "minhash_band_table",
    "minhash_candidates",
    "minhash_candidates_incremental",
    "connected_components",
    "cluster_dedup",
    "cluster_dedup_best",
    "jaccard_pairs",
    "simhash_table",
    "simhash_candidates",
    "hamming_candidates",
    "levenshtein_pairs",
    "deletion_neighborhood",
    "token_windows",
    "block_dedup",
    "dedup_with_provenance",
    "triangle_count",
    "containment_pairs",
    "containment_dedup",
    "dup_rate_by_source",
    "dedup_token_savings",
    "lsh_power_curve",
    "pair_degree_census",
    "adamic_adar_pairs",
    "hits",
]


def dedup_by_key(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """B31 — deterministic keep-first dedup: of all rows sharing ``keys``,
    keep the first under ``order_by`` (e.g. earliest ts, lowest id). The
    reference's latest-run pick (A10) pointed the same direction."""
    return latest_per_key(df, keys, order_by)


def dedup_increment(
    new_docs: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """B31 at production shape — dedup a NEW batch against an existing
    corpus without re-reading the corpus bodies: the corpus side is just
    its fingerprint column (16 bytes/doc; at 100 TB that's a ~1–2 TB
    lookup table, joinable or broadcastable per increment).

    Two stages: (1) drop new docs whose fingerprint already exists in the
    corpus (left-anti join on fp); (2) dedup within the increment itself
    (keep lowest id). Returns the surviving new rows with their ``fp``.
    """
    with_fp = new_docs.withColumn(fp_col, fingerprint(text_col))
    fresh = with_fp.join(
        corpus_fingerprints.select(F.col(fp_col)).distinct(),
        on=fp_col,
        how="left_anti",
    )
    return latest_per_key(fresh, [fp_col], [F.col(id_col)])


def normalized_text(col: str | Column = "text") -> Column:
    """Canonical text normalization for fingerprinting: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def fingerprint(col: str | Column = "text") -> Column:
    """B31/B34 — document fingerprint: md5 of the normalized text. Two
    documents with the same fingerprint are near-certain duplicates modulo
    case/punctuation/whitespace. 16-byte shuffle key regardless of doc size."""
    return F.md5(normalized_text(col))


def dedup_by_fingerprint(
    df: DataFrame, text_col: str | Column = "text", id_col: str = "doc_id"
) -> DataFrame:
    """B31 — exact near-normalization dedup: group by fingerprint, keep the
    lowest id (deterministic). Returns the surviving rows (with ``fp``).
    ``text_col`` may be an expression (e.g. a NULL-coalesced column)."""
    with_fp = df.withColumn("fp", fingerprint(text_col))
    return latest_per_key(with_fp, ["fp"], [F.col(id_col)])


def ngram_shingles(toks: Column, n: int) -> Column:
    """Word n-gram shingles from a MATERIALIZED token-array column.

    Callers must ``withColumn`` the token array first and pass that column:
    Catalyst inlines a lambda-referenced *expression* into the transform
    body, re-running normalize+split once per element — measured 10×
    slower on the fixture corpus (4.4s → 0.44s for the minhash explode at
    sf0.1). An attribute reference is evaluated once per row.
    """
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - 1)
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) banded-MinHash table — the LSH index itself.

    Explode shingles (JVM: tokenization, shingling and the one
    variable-length string hash stay codegen'd) and drop the empty
    shingle that NULL or empty text yields, so such a document gets no
    band rows and is never a candidate; then build the k-seed
    signature. The variable-length shingle hashes to a long ONCE; the k
    hash family re-hashes the 8-byte long per seed (cheaper than k string
    hashes when shingles are long). At 100 TB this table is what you
    PERSIST, partitioned by (band, bucket) — new data then joins the
    stored index without recomputing corpus signatures
    (minhash_candidates_incremental).

    The signature is k ``min(xxhash64(h0, s))`` aggregates in whole-stage
    codegen, combined map-side. A streaming Arrow kernel that ported
    XXH64 to numpy measured no faster (sf0.1, 4 task threads: 1.31 s vs
    1.26 s for the table, 1.45 s vs 1.26 s for the band-bucket
    self-join). The closed-form alternative — one giant nested
    transform/array_min expression per row — falls out of codegen and
    re-evaluates the shingle expression per hash: ~100× slower measured.
    """
    rows_per_band = num_hashes // bands
    exploded = (
        df.withColumn("_toks", F.split(normalized_text(text_col), " "))
        .select(
            F.col(id_col).alias("id"),
            F.explode(ngram_shingles(F.col("_toks"), shingle_n)).alias("sh"),
        )
        .filter(F.col("sh") != "")
        .select("id", F.xxhash64("sh").alias("h0"))
    )
    sig = exploded.groupBy("id").agg(
        *[
            F.expr(f"min(xxhash64(h0, {s})) AS h{s}")
            for s in range(num_hashes)
        ]
    )
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "id",
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_candidates_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """B32 — near-dup candidates of NEW documents against an EXISTING
    corpus: band tables for both sides meet in one equi-join on
    (band, bucket) — the continuous-ingestion shape (no n² self-join over
    new∪corpus, and in production the corpus side is the PERSISTED
    band table, so only the delta computes signatures).

    Returns distinct (new_id, corpus_id).
    """
    nb = minhash_band_table(
        new_df, id_col, text_col, num_hashes, bands, shingle_n
    ).select(F.col("id").alias("new_id"), "band", "bucket")
    cb = minhash_band_table(
        corpus_df, id_col, text_col, num_hashes, bands, shingle_n
    ).select(F.col("id").alias("corpus_id"), "band", "bucket")
    return (
        nb.join(cb, ["band", "bucket"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """B32 — LSH candidate pairs via banded MinHash.

    signature[k] → ``bands`` bands of k/bands rows; documents colliding on
    any (band_index, band_hash) bucket become a candidate pair. The
    band-bucket self-join is an equi-join on the bucket key — shuffle on
    16-byte keys, cost proportional to collisions, not n². This is the
    100 TB path; follow with :func:`jaccard_pairs`-style exact refinement
    on the candidates only.

    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    banded = minhash_band_table(
        df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def _truncate(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage by materializing it now — the one truncation
    policy of the iterative operators and materialized indexes here.
    When the SparkContext has a checkpoint directory (set once per
    deployment through ``spark.checkpoint.dir``) the result is a reliable
    ``checkpoint``, which survives a lost executor and which Spark deletes
    once unreferenced when ``spark.cleaner.referenceTracking.cleanCheckpoints``
    is on; otherwise an executor-local ``localCheckpoint``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _np_min_label_components(a, b):
    """Vectorized exact connected components over IN-MEMORY edge arrays:
    min-label propagation with pointer jumping (hook + shortcut-to-
    fixpoint per sweep, O(log diameter) sweeps of O(E) vectorized ops).
    ``np.unique`` sorts, so index order == id order and the minimum
    index IS the minimum id; works for any numpy-orderable id dtype.
    Returns (ids, component_ids) aligned arrays — component = min id.
    Duplicate and self-loop edges are idempotent under min."""
    import numpy as np

    ids = np.unique(np.concatenate([a, b]))
    ia = np.searchsorted(ids, a)
    ib = np.searchsorted(ids, b)
    labels = np.arange(len(ids), dtype=np.int64)
    while True:
        nxt = labels.copy()
        np.minimum.at(nxt, ia, labels[ib])
        np.minimum.at(nxt, ib, labels[ia])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, labels):
            break
        labels = nxt
    return ids, ids[labels]


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    on_nonconverged: str = "raise",
    block_col: str | None = None,
    small_graph_rows: int = 4_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list (id_a, id_b) —
    the clustering step that turns near-dup candidate PAIRS into dup
    GROUPS. Each round hooks then shortcuts (Shiloach–Vishkin style):

        hook:     label(v) <- min(label(v), min over neighbors of label(n))
        shortcut: label(v) <- label(label(v))   (applied twice)

    The hook alone (plain min-label propagation, the pre-r8 form) needs
    O(component diameter) rounds — fine for shallow dup clusters but a
    silent 20-round cap on a 1000-hop chain (VERDICT r7 "What's wrong"
    #2). The pointer-doubling shortcut squares the reach each
    application, so rounds grow O(log diameter): a 1024-hop path closes
    in <=7 rounds (pinned in tests). Each round is the edges⋈labels hook
    join + two label self-joins (labels are one row per NODE — far
    smaller than edges — so the added shuffles are cheap relative to the
    hook); the per-round checkpoint truncates the growing lineage so
    round N doesn't re-execute rounds 1..N-1.

    ``on_nonconverged``: ``"raise"`` (default) raises RuntimeError if the
    labeling still changed in round ``max_iterations`` — a partially
    merged labeling silently under-deduplicates downstream, so refusing
    is the safe default; ``"warn"`` emits a warning and returns the
    partial labels (each id still maps to SOME member of its component,
    just not necessarily the global min).

    Each round is truncated by :func:`_truncate`: a reliable checkpoint
    when the context has a checkpoint directory, else ``localCheckpoint``.

    Returns (id, component) with component = min id in the component.

    ``block_col`` (r13 optimization): when every edge row carries a
    blocking key and no node appears in more than one block (true for
    any pair list built by a blocked generator — :func:`jaccard_pairs`
    with ``group_col`` + ``keep_group``, :func:`minhash_candidates`
    banded within a group), components can never cross blocks, so the
    whole labeling collapses to ONE grouped Arrow kernel: per block, a
    vectorized min-label pointer-jumping pass over the in-memory edge
    arrays (numpy; O(E·log·rounds) element ops, no per-round Spark jobs,
    no checkpoints). Same (id, component=min id) output, bitwise. The
    iteration knobs (``max_iterations``/``on_nonconverged``) do not
    apply — the kernel always converges exactly. The kernel holds one
    BLOCK's edge list in memory (the blocked-kernel contract shared with
    the jaccard matmul); the iterative hook/shortcut rounds remain the
    unblocked/100 TB default where one component can span the corpus.
    Measured on the sf0.1 bench graph (445k pairs): ~5 s of eager round
    jobs → 0.3 s.

    ``small_graph_rows`` (r14 optimization — the standard distributed-CC
    ENDGAME): after the map-side contraction + symmetrize/distinct
    materialize, the edge count is known for free (the table is already
    checkpointed — counting it is a metadata-cheap job, and the loop
    would run a count per round anyway). When it is ≤ this bound, the
    whole graph is solved EXACTLY in one single-task vectorized pass
    (the same min-label kernel the blocked path uses) instead of
    entering the round loop: one job replaces per-round [hook join +
    2 pointer self-joins + checkpoint + changed-count] × O(log diameter)
    rounds. Same (id, component = min id) output, bitwise — the kernel
    converges exactly, so ``max_iterations``/``on_nonconverged`` never
    trigger on this path (nothing to raise: it IS converged). Memory
    contract: one task holds the contracted edge arrays — 4M edge rows
    ≈ 64 MB of int64 pairs (string ids cost ~8× more; lower the bound
    for string-keyed graphs if partitions are memory-tight). At 100 TB
    the contracted candidate graph of a near-dup pass usually exceeds
    the bound and the iterative rounds run as before; pass ``0`` to
    force the loop (the convergence contract tests do).
    """
    from pyspark.sql import functions as SF

    # Validated first: the block kernel and the small-graph endgame return
    # early, and a bad argument must raise whatever the graph size.
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}"
        )
    if block_col is not None:
        return _cc_block_kernel(pairs, block_col)

    # Materialize the edge list ONCE before iterating: every round joins
    # against ``edges``, and without this the full upstream pair
    # computation (e.g. a 2-shuffle jaccard_pairs) re-executes per round —
    # measured 51s -> 8s at sf0.1 for the cluster_dedup pipeline.
    # NULL-endpoint pairs are dropped WHOLE: a (NULL, x) pair would seed
    # a spurious (id=NULL, component=NULL) label row that survives to
    # the output (min-label hooks skip NULL labels, so it never merges
    # and never converges away). Dropping the pair means x — if it has
    # no real partner — is absent from the labeling, which every caller
    # already reads as "singleton" (left_anti keep / coalesce(component,
    # id)), exactly what a partner-less node is.
    pairs = pairs.filter(
        SF.col("id_a").isNotNull() & SF.col("id_b").isNotNull()
    )
    # r13 optimization (guide §2.3 "aggregate before you shuffle"): a
    # MAP-SIDE union-find contraction before anything shuffles. Each
    # input partition solves its local edges exactly (the same
    # vectorized min-label routine as the blocked kernel) and emits one
    # (node, local-component-min) star edge per node — connectivity-
    # and min-id-preserving (roots are nodes; any original edge (u,v)
    # is replaced by u—root—v), so the global labeling is unchanged.
    # Effect: the edge list entering the shuffle/iteration shrinks from
    # |E| to ≤ |nodes-per-partition|·n_partitions, and every partition-
    # local chain collapses to a star, so the iterative rounds start
    # from diameter ≈ the number of cross-partition hops — measured 4
    # rounds → 2 on the sf0.1 bench graphs, and at 100 TB it is the
    # standard first pass (most near-dup edges are eliminated before
    # the first exchange). Memory: one partition's edge arrays (ids
    # only), bounded by the input split size.
    id_type = dict(pairs.dtypes)["id_a"]

    def _contract(batches):
        import numpy as np
        import pandas as pd

        aa, bb = [], []
        for pdf in batches:
            if len(pdf):
                aa.append(pdf["id_a"].to_numpy())
                bb.append(pdf["id_b"].to_numpy())
        if aa:
            ids, comp = _np_min_label_components(
                np.concatenate(aa), np.concatenate(bb)
            )
            yield pd.DataFrame({"id_a": ids, "id_b": comp})

    pairs = pairs.select("id_a", "id_b").mapInPandas(
        _contract, f"id_a {id_type}, id_b {id_type}"
    )
    edges = _truncate(
        pairs.select(SF.col("id_a").alias("src"), SF.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(SF.col("id_b").alias("src"), SF.col("id_a").alias("dst"))
        )
        .distinct()
    )
    if small_graph_rows and edges.count() <= small_graph_rows:
        # Single-task exact endgame (see docstring): the contracted edge
        # set fits one task, so solve it in one vectorized pass.
        def _solve(batches):
            import numpy as np
            import pandas as pd

            aa, bb = [], []
            for pdf in batches:
                if len(pdf):
                    aa.append(pdf["src"].to_numpy())
                    bb.append(pdf["dst"].to_numpy())
            if aa:
                ids, comp = _np_min_label_components(
                    np.concatenate(aa), np.concatenate(bb)
                )
                yield pd.DataFrame({"id": ids, "component": comp})

        return edges.coalesce(1).mapInPandas(
            _solve, f"id {id_type}, component {id_type}"
        )
    labels = (
        edges.select(SF.col("src").alias("id"))
        .distinct()
        .withColumn("component", SF.col("id"))
    )
    converged = False
    for _ in range(max_iterations):
        # Hook as ONE aggregation (r13, guide §2.4): the neighbor
        # contributions UNION the nodes' own labels feed a single
        # min-groupBy — new = min(own, neighbors), old = the unique
        # self row's label — replacing the former aggregate + left
        # self-join (one fewer join + exchange per round, same labels).
        nbr = edges.join(labels, edges["dst"] == labels["id"]).select(
            SF.col("src").alias("id"),
            SF.col("component"),
            SF.lit(False).alias("_self"),
        )
        hooked = (
            nbr.unionByName(labels.withColumn("_self", SF.lit(True)))
            .groupBy("id")
            .agg(
                SF.min("component").alias("component"),
                SF.max(
                    SF.when(SF.col("_self"), SF.col("component"))
                ).alias("_old"),
            )
        )
        # Pointer-doubling shortcut: component <- component(component),
        # twice. Every component value IS a node id (labels start as
        # id->id and only ever take mins over node ids), so the self-join
        # is total and the labeling stays within the component.
        for _ in range(2):
            ptr = hooked.select(
                SF.col("id").alias("_pid"), SF.col("component").alias("_pcomp")
            )
            hooked = hooked.join(
                ptr, hooked["component"] == ptr["_pid"]
            ).select("id", SF.col("_pcomp").alias("component"), "_old")
        # Carry the changed flag through the checkpoint so convergence is a
        # filter over the just-materialized rows, not an extra join+shuffle
        # against the previous labels each round.
        updated = _truncate(
            hooked.select(
                "id",
                "component",
                (SF.col("component") < SF.col("_old")).alias("_chg"),
            )
        )
        changed = updated.filter(SF.col("_chg")).limit(1).count()
        labels = updated.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge within "
            f"{max_iterations} rounds — component deeper than "
            f"~4^{max_iterations}, or max_iterations set too low; the "
            f"labeling is partially merged (under-deduplicates downstream)"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def _cc_block_kernel(pairs: DataFrame, block_col: str) -> DataFrame:
    """Blocked connected components (see :func:`connected_components`):
    one grouped Arrow kernel per block running
    :func:`_np_min_label_components` over the block's edge arrays, so each
    block's component is its minimum id. NULL-endpoint pairs are dropped
    whole (the generic path's contract).
    """
    import pandas as pd

    id_type = dict(pairs.dtypes)["id_a"]
    edges = pairs.select("id_a", "id_b", F.col(block_col).alias("_blk")).filter(
        F.col("id_a").isNotNull() & F.col("id_b").isNotNull()
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"id": [], "component": []})
        ids, comp = _np_min_label_components(
            pdf["id_a"].to_numpy(), pdf["id_b"].to_numpy()
        )
        return pd.DataFrame({"id": ids, "component": comp})

    from ddataframeoperation_spark.operators.script import apply_script_grouped

    return apply_script_grouped(
        edges, ["_blk"], kernel, f"id {id_type}, component {id_type}"
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    block_col: str | None = None,
) -> DataFrame:
    """The near-dup dedup endgame: given candidate/confirmed pairs, cluster
    them (connected components) and keep ONE row per cluster — the lowest
    id — plus every row that appears in no pair. The complete pipeline is
    minhash_candidates → (optional jaccard refinement) → cluster_dedup.
    ``block_col`` forwards to :func:`connected_components` (blocked-kernel
    components when the pair list carries a node-disjoint blocking key).

    r13 optimization: the survivor of a cluster is its LOWEST id, and
    :func:`connected_components` already returns ``component = min id in
    the component`` (its documented, test-pinned contract on the
    converged path) — so the drop set is simply ``id != component``, a
    row-local filter. The previous min-per-component aggregate + anti
    self-join re-derived that invariant at the cost of one shuffle and a
    SECOND traversal of the comp subtree (which, for lazy comp plans
    like the blocked kernel, re-executed the whole upstream pair
    computation — measured 5.6 s → 3.0 s on b32_near_dedup_e2e)."""
    from pyspark.sql import functions as SF

    comp = connected_components(pairs, block_col=block_col)
    drop_ids = comp.filter(SF.col("id") != SF.col("component")).select(
        SF.col("id").alias(id_col)
    )
    return df.join(drop_ids, on=id_col, how="left_anti")


def cluster_dedup_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str | Column = "quality",
) -> DataFrame:
    """Quality-aware cluster dedup: like :func:`cluster_dedup` but the
    survivor of each near-dup cluster is the member with the HIGHEST
    ``score_col`` (ties → lowest id), not the lowest id. The pretraining
    sweep wants the cleanest copy of a page, not an arbitrary one — a
    mirror with ads stripped beats the original with boilerplate.

    One ``max_by`` over a lexicographic (score, -id) struct per component
    — map-side combinable, no window, no sort. Components shuffle as
    (id, component) longs; scores join in by id. Determinism contract:
    ``score_col`` must compare identically across engines/partitionings —
    pass a rounded score (the registered query rounds to 4dp) so fp-ulp
    drift can never flip a tie against the id tie-break.
    """
    from pyspark.sql import functions as SF

    s = SF.col(score_col) if isinstance(score_col, str) else score_col
    comp = connected_components(pairs)
    scored = comp.join(
        df.select(SF.col(id_col).alias("id"), s.alias("_s")), on="id"
    )
    keep_of_cluster = scored.groupBy("component").agg(
        SF.max_by(
            "id", SF.struct(SF.col("_s").alias("s"), (-SF.col("id")).alias("ni"))
        ).alias("keep_id")
    )
    drop_ids = (
        comp.join(
            keep_of_cluster, comp["id"] == keep_of_cluster["keep_id"], "left_anti"
        )
        .select(SF.col("id").alias(id_col))
        .distinct()
    )
    return df.join(drop_ids, on=id_col, how="left_anti")


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    threshold: float = 0.5,
    shingle_n: int | None = None,
    keep_group: bool = False,
) -> DataFrame:
    """B32 — exact token-set Jaccard similarity via explode + equi-join on
    token (the sparse-inverted-index formulation: only pairs sharing at
    least one token are ever materialized — never a cross join).

    intersection(a,b) = count of shared distinct tokens (join on token);
    union(a,b) = |a| + |b| - intersection. ``group_col`` optionally
    restricts pairs to the same group (blocking key), the standard
    scale-reduction; at 100 TB you'd also drop ultra-frequent tokens
    (stopword-like) before the join to bound the inverted-index skew.

    ``shingle_n`` switches the unit from single word tokens to word
    n-gram shingles — the exact ground truth for
    :func:`minhash_candidates` (which hashes the same shingles), used by
    the recall gate in the query surface.

    Returns (id_a, id_b, jacc) for pairs with jacc >= threshold.
    ``keep_group=True`` (requires ``group_col``) appends the block value
    as a fourth column named ``group_col`` — so a downstream BLOCKED
    operator (:func:`connected_components` / :func:`common_neighbor_pairs`
    with ``block_col``) can reuse the blocking without re-joining the
    source table. Contract: each id must belong to exactly ONE group
    (true for any row-level blocking key — a document has one source);
    the group value of a pair is then well-defined.

    When ``group_col`` is given, each block is scored with one numpy
    matmul (binary doc×block-vocab matrix · its transpose = ALL pairwise
    intersections) — measured 2.5 s vs 7.3 s for a blocked inverted-index
    self-join (sf0.1, 4 task threads). The kernel holds one block in memory (the
    cosine-kernel contract); rows with a NULL id or a NULL group key
    pair with nothing. Unblocked calls use the inverted index, where
    vocabulary × corpus size is unbounded.
    """
    if keep_group and group_col is None:
        raise ValueError("keep_group requires group_col")
    if group_col is not None:
        return _jaccard_pairs_block_kernel(
            df, id_col, text_col, group_col, threshold, shingle_n, keep_group
        )
    pre = df.withColumn("_toks", F.split(normalized_text(text_col), " "))
    units = (
        ngram_shingles(F.col("_toks"), shingle_n) if shingle_n else F.col("_toks")
    )
    tok = pre.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(units)).alias("tok"),
    )
    sizes = tok.groupBy("id").agg(F.count("*").alias("sz"))
    # Document-frequency pruning: a token that occurs in exactly one
    # document can never contribute to an intersection, yet such tokens
    # (hapax legomena — typically ~half the vocabulary, and every typo,
    # id, and number at 100 TB) dominate the inverted-index shuffle.
    # Dropping them is result-identical because |a| and |b| come from the
    # unpruned ``sizes``. The window count partitions by the same key the
    # self-join shuffles on, so the exchange (and sort) is computed once
    # and reused by both join sides.
    w = Window.partitionBy("tok")
    tok = (
        tok.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") >= 2)
        .drop("_df")
    )
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, on="tok")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jacc",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", F.round("jacc", 4).alias("jacc"))
    )


def jaccard_refine(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int | None = None,
) -> DataFrame:
    """B32 — exact-Jaccard REFINEMENT of a candidate pair list (r13
    optimization): score ONLY the given ``candidates`` (id_a, id_b) and
    keep those with jacc >= ``threshold``. This is the second half of
    the LSH contract — :func:`minhash_candidates` generates, this
    verifies — and its cost is ∝ |candidates|, not ∝ the corpus's
    token-sharing pair count: each candidate row fetches the two
    documents' distinct unit sets (two id equi-joins against a
    row-local set table) and intersects them ROW-LOCALLY.

    Result-identical to ``jaccard_pairs(df, threshold=t, ...)
    .join(candidates, ["id_a","id_b"], "leftsemi")`` (same normalized
    units, same unpruned sizes, same unrounded threshold comparison,
    same 4dp rounding) — but the corpus-wide inverted-index self-join
    never runs. Candidate rows whose ids are absent from ``df`` drop
    (inner joins), duplicates collapse, and NULL-id rows drop — the
    semi-join form's behavior. Each candidate is first reoriented to
    ``(least, greatest)``: the inverted-index form only ever emits
    ordered pairs, so a reversed candidate ``(b, a)`` scores as its
    ordered twin ``(a, b)`` (Jaccard is symmetric) and collapses with it,
    and a self-pair scores nothing.

    Returns (id_a, id_b, jacc).
    """
    pre = df.withColumn("_toks", F.split(normalized_text(text_col), " "))
    units = (
        ngram_shingles(F.col("_toks"), shingle_n) if shingle_n else F.col("_toks")
    )
    sets = pre.select(
        F.col(id_col).alias("_id"), F.array_distinct(units).alias("_set")
    )
    cand = (
        candidates.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"))
    scored = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_i", F.size(F.array_intersect("_sa", "_sb")))
        # try_divide: two sub-shingle-length docs have EMPTY unit sets →
        # 0/0, which ANSI division would raise on; NULL fails the
        # threshold filter, matching the inverted-index form (such docs
        # never reach its join).
        .withColumn(
            "jacc",
            F.try_divide(
                F.col("_i"),
                F.size("_sa") + F.size("_sb") - F.col("_i"),
            ),
        )
    )
    return scored.filter(F.col("jacc") >= threshold).select(
        "id_a", "id_b", F.round("jacc", 4).alias("jacc")
    )


def _jaccard_pairs_block_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    threshold: float,
    shingle_n: int | None,
    keep_group: bool = False,
) -> DataFrame:
    """Blocked exact Jaccard via per-block matmul (see jaccard_pairs).

    Token sets are built JVM-side (array_distinct over materialized
    tokens/shingles) so the kernel receives small arrays, not raw text.
    Rounding uses floor(j*1e4+0.5)/1e4 — half-away-from-zero by pure IEEE
    ops, matching DuckDB/Spark SQL on exact ties like 9/32 where numpy's
    half-even would diverge.
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    id_type = dict(df.dtypes)[id_col]

    pre = df.withColumn("_toks", F.split(normalized_text(text_col), " "))
    units = (
        ngram_shingles(F.col("_toks"), shingle_n) if shingle_n else F.col("_toks")
    )
    # NULL ids and NULL group keys pair with nothing (the SQL semantics of
    # ``a.grp = b.grp AND a.id < b.id``); pandas would group the NULL keys
    # together and sort the NULL ids into the pairs.
    blocked = pre.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.array_distinct(units).alias("toks"),
    ).filter(F.col("id").isNotNull() & F.col("grp").isNotNull())

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        cols = ["id_a", "id_b", "jacc"] + (["grp"] if keep_group else [])
        empty = pd.DataFrame({c: [] for c in cols})
        if m < 2:
            return empty
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        vocab: dict[str, int] = {}
        rows, cols = [], []
        for i, toks in enumerate(pdf["toks"]):
            for t in toks if toks is not None else ():
                j = vocab.setdefault(t, len(vocab))
                rows.append(i)
                cols.append(j)
        if not vocab:
            return empty
        M = np.zeros((m, len(vocab)), dtype=np.float64)
        M[rows, cols] = 1.0
        inter = M @ M.T
        sz = M.sum(axis=1)
        union = sz[:, None] + sz[None, :] - inter
        iu, ju = np.triu_indices(m, k=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            j = np.where(union[iu, ju] > 0, inter[iu, ju] / union[iu, ju], 0.0)
        keep = j >= thr
        out = {
            "id_a": ids[iu[keep]],
            "id_b": ids[ju[keep]],
            "jacc": np.floor(j[keep] * 10000 + 0.5) / 10000,
        }
        if keep_group:
            out["grp"] = pdf["grp"].iloc[0]
        return pd.DataFrame(out)

    from ddataframeoperation_spark.operators.script import apply_script_grouped

    # apply_script_grouped pins the Python stage's parallelism (AQE would
    # coalesce the exchange for JVM read cost, starving the matmul).
    schema = f"id_a {id_type}, id_b {id_type}, jacc double"
    if keep_group:
        grp_type = dict(df.dtypes)[group_col]
        schema += f", grp {grp_type}"
    out = apply_script_grouped(blocked, ["grp"], kernel, schema)
    return (
        out.withColumnRenamed("grp", group_col) if keep_group else out
    )


def deletion_neighborhood(col: str | Column, k: int) -> Column:
    """All strings reachable from ``col`` by deleting at most ``k``
    characters, as a distinct ``array<string>`` built entirely from
    higher-order builtins (no Python in the hot path). This is the
    SymSpell / symmetric-delete index key set: if ``ed(s1, s2) <= k``
    then the depth-``k`` neighborhoods of s1 and s2 intersect (each
    substitution costs one deletion on each side, each insert/delete one
    deletion on one side). Size grows as C(len, <=k) — intended for
    entity-resolution columns (names, codes), not documents.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    s = F.col(col) if isinstance(col, str) else col
    arr = F.array(s)
    for _ in range(k):
        def _del1(x: Column) -> Column:
            m = F.length(x)
            return F.when(
                m > 0,
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.concat(
                        x.substr(F.lit(1), i - 1), x.substr(i + 1, m)
                    ),
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        arr = F.array_distinct(F.concat(arr, F.flatten(F.transform(arr, _del1))))
    return arr


def levenshtein_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    blocking: str = "auto",
) -> DataFrame:
    """B32/B23 — fuzzy value matching (entity-resolution / typo-dedup):
    all unordered pairs of DISTINCT ``col`` values within edit distance
    ``max_dist``, scored by exact levenshtein (a JVM builtin; DuckDB's
    ``levenshtein`` computes the identical metric, so the operator is
    exactly oracle-able). Both blocking strategies are COMPLETE (no
    candidate within ``max_dist`` is missed), so the refined result is
    exact either way:

    - ``"deletes"`` — symmetric-delete (SymSpell) blocking: each value
      explodes to its :func:`deletion_neighborhood`; two values within
      distance d always share a variant, and a bucket holds only values
      that actually collide after deletions — near-matches, not "all
      values of this length". The scale choice for large diverse value
      sets; cost is the C(len, <=k) explode, so suited to short strings
      and small k.
    - ``"length"`` — length-band blocking (within distance d lengths
      differ by <= d): one side explodes to [len-d, len+d], equi-join on
      exact length. Cheap to build but a band holds EVERY value of that
      length — degenerates toward all-pairs on uniform-length corpora.
      The fallback for long strings / larger k where the deletion
      explode would dominate.
    - ``"auto"`` — ``"deletes"`` when ``max_dist <= 2``, else
      ``"length"``.

    Returns (name_a, name_b, dist) with name_a < name_b.
    """
    if blocking not in ("auto", "deletes", "length"):
        raise ValueError(f"unknown blocking {blocking!r}")
    if blocking == "auto":
        blocking = "deletes" if max_dist <= 2 else "length"
    vals = df.select(F.col(col).alias("name")).distinct()
    if blocking == "deletes":
        # ONE neighborhood explode + one shuffle on the variant: a
        # self-join would re-run the C(len,<=k) explode on both sides
        # (Catalyst cannot reuse the exchange across the renamed side),
        # so pairs are expanded array-locally inside each variant bucket
        # instead. A bucket holds only values colliding after deletions —
        # true near-matches — so the in-bucket expansion is the
        # operator's own output size; mass near-identical families cost
        # one task per shared variant (the hamming_candidates hot-bucket
        # caveat applies).
        e = vals.select(
            "name",
            F.explode(deletion_neighborhood("name", max_dist)).alias("v"),
        )
        ns = F.sort_array(F.collect_set("name"))
        buckets_df = (
            e.groupBy("v")
            .agg(ns.alias("ns"))
            .filter(F.size("ns") >= 2)
        )
        pairs = F.flatten(
            F.transform(
                F.col("ns"),
                lambda x, i: F.transform(
                    F.slice(F.col("ns"), i + 2, F.size(F.col("ns"))),
                    lambda y: F.struct(x.alias("name"), y.alias("name_b")),
                ),
            )
        )
        cand = (
            buckets_df.select(F.explode(pairs).alias("p"))
            .select(F.col("p.name").alias("name"), F.col("p.name_b").alias("name_b"))
            .distinct()  # a pair can meet in many shared variants
        )
    else:
        a = vals.select(
            "name",
            F.explode(
                F.sequence(
                    F.length("name") - max_dist, F.length("name") + max_dist
                )
            ).alias("lb"),
        )
        b = vals.select(
            F.col("name").alias("name_b"), F.length("name_b").alias("lb")
        )
        # each unordered pair meets in exactly one bucket (= len_b) under
        # the a < b orientation, so no distinct is needed before refine.
        cand = a.join(b, "lb").filter(F.col("name") < F.col("name_b"))
    return (
        cand.withColumn("dist", F.levenshtein("name", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("name").alias("name_a"),
            "name_b",
            F.col("dist").cast("int").alias("dist"),
        )
        .distinct()
    )


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """B32 — 64-bit SimHash over word tokens as an (id, sh) table: for
    each bit position, the majority vote of the token hashes' bits
    (xxhash64 of each normalized token), via explode + hash-aggregate —
    one shuffle on id, all codegen'd. Near-duplicates have small
    Hamming distance between their ``sh`` bigints.

    Bit-vote counters are PACKED three per aggregate column (21-bit
    fields): per input row each field receives bit_i ∈ {0,1} shifted to
    its lane, so one sum() accumulates three independent counters and the
    ``bits`` sums collapse to ceil(bits/3). Measured 1.36 s → 0.28 s
    steady-state at sf0.1 (aggregate state and generated code shrink 3×),
    bit-identical output. Contract: a document may carry at most 2^21
    (~2M) tokens — beyond that a lane overflows into its neighbor; split
    longer docs first (``text.chunk_documents``). (Earlier rounds: the
    arithmetic (h >>> i) & 1 extraction replaced a 64-CASE form that
    JIT-compiled ~1.4 s slower on first execution.)"""
    if not 0 < bits <= 64:
        # The fold's shiftleft wraps shift amounts mod 64 (it would OR an
        # out-of-range bit into a low bit instead of dropping it), and a
        # >64-bit code cannot fit the bigint return anyway.
        raise ValueError("bits must be in 1..64")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(text_col), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))

    lanes = 3
    width = 21
    groups = (bits + lanes - 1) // lanes
    # Aggregate columns built as ONE SQL string per pack (r14): the
    # former per-term Column composition cost ~300 py4j round-trips
    # (~0.3 s of driver time PER FRESH PLAN — the bench constructs a
    # fresh plan per repeat, and at 100 TB plan-construction latency is
    # pure driver serial time, guide §7.3). Identical expressions, one
    # parser call each.
    packs = []
    for g in range(groups):
        terms = [
            f"shiftleft(shiftrightunsigned(h, {g * lanes + j}) & 1, "
            f"{j * width})"
            for j in range(lanes)
            if g * lanes + j < bits
        ]
        packs.append(F.expr(f"sum({' + '.join(terms)}) AS p{g}"))
    votes = toks.groupBy("id").agg(F.count("*").alias("_n"), *packs)
    # Bit reconstruction as ONE higher-order fold over the packed columns
    # (collected into an array) instead of a 64-term chained-bitwiseOR
    # expression tree: the unrolled tree cost ~1.7 s of DRIVER-side
    # Catalyst analysis per fresh plan (execution of the same cached
    # DataFrame was 0.4 s) — the fold's ~30-node lambda plans in
    # milliseconds and runs interpreted over only the post-aggregate rows
    # (|docs| × 64 iterations), bit-identical output (tested).
    # shiftleft(1L, 63) wraps negative exactly like the old mask(63).
    votes = votes.withColumn(
        "_pk", F.array(*[F.col(f"p{g}") for g in range(groups)])
    )
    sh = F.expr(
        f"""aggregate(
          sequence(0, {bits - 1}),
          CAST(0 AS BIGINT),
          (acc, i) -> acc | IF(
             2 * (shiftrightunsigned(element_at(_pk, CAST(i div {lanes} AS INT) + 1),
                                     (i % {lanes}) * {width}) & {(1 << width) - 1}) > _n,
             shiftleft(CAST(1 AS BIGINT), i),
             CAST(0 AS BIGINT)))"""
    )
    return votes.select("id", sh.alias("sh"))


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """B32 — SimHash near-dup candidates: :func:`simhash_table` over the
    text, then the generic :func:`hamming_candidates` block-permutation
    join. See the latter for the bucket-cap/star-linkage contract."""
    sh = simhash_table(df, id_col=id_col, text_col=text_col)
    return hamming_candidates(
        sh,
        max_hamming=max_hamming,
        blocks=blocks,
        max_bucket=max_bucket,
    )


def hamming_candidates(
    sh_df: DataFrame,
    id_col: str = "id",
    hash_col: str = "sh",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 64,
    bits: int = 64,
) -> DataFrame:
    """Generic Hamming-neighbor candidates over ANY (id, sh) fingerprint
    table — text simhash, image/audio perceptual hashes, any locality-
    preserving bit signature — via the block-permutation trick: split the
    ``bits``-bit hash into ``blocks`` chunks; pairs within Hamming
    distance < blocks must agree on >= 1 chunk, so an equi-join per chunk
    finds all candidates — never a cross join. Exact Hamming filter after.

    ``max_bucket`` bounds every (blk, chunk) join bucket — the simhash
    analogue of :func:`fingerprint_overlap_pairs`'s ``max_df`` boilerplate
    suppression. A bucket of m docs yields m·(m-1)/2 pair rows, and
    templated / near-empty corpora collapse to a handful of hot chunk
    values, turning the self-join quadratic. Buckets over the cap degrade
    to STAR linkage (every member pairs with the bucket's min-id
    representative): O(m) rows instead of O(m²), and a degenerate corpus
    of identical docs stays fully connected for downstream clustering —
    a plain drop would silently lose every pair in the hot bucket.
    Recall contract of the cap: within an over-cap bucket, members link
    only THROUGH the representative, so two docs near each other but
    > ``max_hamming`` from the rep lose that bucket's linkage (they can
    still meet via their other ``blocks - 1`` chunks). That is the
    documented trade for bounding the join; pass ``max_bucket=None`` for
    the exact block-permutation join (fully lazy, exchange-reused
    self-join) when completeness matters more than boundedness.

    The capped path materializes the windowed chunk index once (three
    consumers; see body comment) and therefore launches a Spark job at
    call time — callers wanting full laziness pass ``max_bucket=None``.
    The index is materialized by :func:`_truncate`: a reliable checkpoint
    when the context has a checkpoint directory, else ``localCheckpoint``.
    """
    bits_per = bits // blocks
    sh = sh_df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("sh"))
    # One parsed SQL string for the chunk explode (r14 py4j-trim, see
    # simhash_table's pack comment) — identical expression tree.
    mask = (1 << bits_per) - 1
    chunk_structs = ", ".join(
        f"struct({b} AS blk, "
        f"shiftrightunsigned(sh, {b * bits_per}) & {mask} AS chunk)"
        for b in range(blocks)
    )
    chunks = sh.select(
        "id",
        "sh",
        F.expr(f"explode(array({chunk_structs}))").alias("c"),
    ).select("id", "sh", "c.blk", "c.chunk")
    if max_bucket is None:
        # Uncapped: plain self-join; both sides share one exchange
        # (ReusedExchange), keep the operator fully lazy.
        a, b = chunks.alias("a"), chunks.alias("b")
        cand = a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.id") < F.col("b.id"),
            ],
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        ).distinct()
    else:
        w = Window.partitionBy("blk", "chunk")
        # Materialize the windowed chunk table ONCE: three consumers read
        # it (join left/right + star branch), and without this each one
        # re-executes the 64-column simhash aggregation — measured 11.4 s
        # vs 4.7 s uncapped on a 10× corpus.
        chunks = _truncate(
            chunks.withColumn("_n", F.count("*").over(w))
            .withColumn("_rep", F.min(F.struct("id", "sh")).over(w))
            .filter(F.col("_n") >= 2)
        )
        small = chunks.filter(F.col("_n") <= max_bucket).drop("_n", "_rep")
        a = small.alias("a")
        b = small.alias("b")
        cand = a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.id") < F.col("b.id"),
            ],
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        star = (
            chunks.filter(
                (F.col("_n") > max_bucket) & (F.col("id") != F.col("_rep.id"))
            )
            .select(
                F.col("_rep.id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.col("_rep.sh").alias("sh_a"),
                F.col("sh").alias("sh_b"),
            )
        )
        cand = cand.unionByName(star).distinct()
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def token_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    stride: int,
) -> DataFrame:
    """Shared token-window prelude of ``text.chunk_documents`` (overlapping
    windows, stride < window) and :func:`block_dedup` (non-overlapping
    blocks, stride == window): normalize (NULL text coalesces to '' — a
    NULL must not become a NULL window with Spark's ``size(NULL) = -1``),
    split ONCE into a materialized token column, posexplode the start
    offsets, slice per window. Pure row-local builtins, no shuffle.

    Returns (id_col, win_id int, win_text, n_tokens int); a document with
    no alphanumeric content yields one window holding its single empty
    token. Contract fixes here propagate to BOTH consumers (and their
    DuckDB oracles use the same chunking SQL).
    """
    if stride < 1 or window < 1:
        raise ValueError("window and stride must be >= 1")
    toks = df.select(
        F.col(id_col),
        F.split(
            normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " "
        ).alias("_toks"),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("_toks") - 1, F.lit(0)), F.lit(stride)
    )
    wins = toks.select(
        id_col, "_toks", F.posexplode(starts).alias("win_id", "_start")
    )
    win_toks = F.slice("_toks", F.col("_start") + 1, window)
    return wins.select(
        id_col,
        F.col("win_id").cast("int").alias("win_id"),
        F.array_join(win_toks, " ").alias("win_text"),
        F.size(win_toks).cast("int").alias("n_tokens"),
    )


def block_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 8,
) -> DataFrame:
    """North-star — sub-document exact dedup (the C4-style duplicate-span
    removal): split each document into non-overlapping ``block_tokens``
    token blocks, drop every block whose exact content already occurred
    earlier in the corpus (keep-first by (doc_id, block index) — fully
    deterministic), and reassemble the surviving blocks per document.
    Whole-document dedup misses boilerplate (headers, license banners,
    navigation chrome) duplicated ACROSS distinct documents; block-level
    dedup removes the repeated spans while keeping the unique remainder.

    Plan shape: row-local chunking (posexplode over start offsets — no
    shuffle), md5 of the normalized block (16-byte shuffle key, never the
    block body — blocks shuffle as digests), ONE window over the
    fingerprint for keep-first, one group-by to reassemble. Two shuffles
    total regardless of corpus size. Documents whose every block is a
    duplicate come back with empty text and n_blocks_kept = 0 (still one
    output row per input document — callers filter, the operator doesn't
    silently drop).

    Returns (id_col, text_deduped, n_blocks_kept, n_blocks_total).
    """
    blocks = token_windows(
        df, id_col, text_col, window=block_tokens, stride=block_tokens
    ).select(
        id_col,
        F.col("win_id").alias("block_id"),
        F.col("win_text").alias("_block"),
    )
    w = Window.partitionBy(F.md5("_block")).orderBy(
        F.col(id_col).asc(), F.col("block_id").asc()
    )
    kept = blocks.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_keep", F.col("_rn") == 1
    )
    assembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(
                                F.col("block_id"), F.col("_block").alias("b")
                            ),
                        )
                    )
                ),
                lambda s: s["b"],
            ),
            " ",
        ).alias("text_deduped"),
        F.sum(F.col("_keep").cast("long")).alias("n_blocks_kept"),
        F.count("*").alias("n_blocks_total"),
    )
    return assembled


def dedup_with_provenance(
    df: DataFrame,
    text_col: str | Column = "text",
    id_col: str = "doc_id",
    max_ids: int = 20,
    only_duplicated: bool = True,
) -> DataFrame:
    """B31 with an audit trail — fingerprint dedup that KEEPS the evidence:
    one row per duplicate group with the surviving id (lowest), the group's
    copy count, and a bounded, sorted, comma-joined list of the duplicate
    ids that were dropped. This is the governance/lineage half of dedup —
    "which documents did this survivor absorb" — needed for takedown
    propagation, dataset datasheets, and debugging surprising dedup rates.

    Plan shape: ONE shuffle of (16-byte md5 fingerprint, id) pairs, then
    everything stays on that partitioning — a row_number window ranks
    ids within each group, and a single groupBy on the same key (Spark
    reuses the window's hashpartitioning, no second exchange) computes
    the true copy count alongside a CAPPED id list: ids ranked past
    ``max_ids + 1`` are NULLed before ``collect_list`` (which skips
    NULLs), so the aggregation buffer holds at most ``max_ids + 1``
    longs no matter how pathological the group — a million-copy
    boilerplate page emits one bounded row, its uncapped ids flowing
    only through the streaming count. No join, and document bodies
    never shuffle.

    ``only_duplicated=True`` (default) returns just groups with >= 2
    copies — the audit report. Set False for the full survivor table.
    """
    if max_ids < 1:
        raise ValueError("max_ids must be >= 1")
    from pyspark.sql import Window

    with_fp = df.select(
        fingerprint(text_col).alias("_fp"), F.col(id_col).alias("_id")
    )
    w = Window.partitionBy("_fp").orderBy("_id")
    grouped = (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .groupBy("_fp")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_ids + 1, F.col("_id"))
                )
            ).alias("_ids"),
        )
    )
    if only_duplicated:
        grouped = grouped.filter(F.col("n_copies") >= 2)
    return grouped.select(
        F.element_at("_ids", 1).alias(id_col),
        "n_copies",
        F.array_join(
            F.transform(
                F.slice("_ids", 2, max_ids), lambda x: x.cast("string")
            ),
            ",",
        ).alias("dup_ids"),
    )


def triangle_count(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """B32 adjunct — global triangle census of an undirected similarity
    graph (e.g. the near-dup pair set): one row of
    (n_edges, n_wedges, n_triangles) — the transitivity diagnostic that
    tells you whether "near-duplicate" is behaving like an equivalence
    relation (dense triangles → clean clusters for cluster_dedup) or a
    hairball of accidental bridges.

    The standard distributed shape: edges are canonicalized to
    ``lo < hi`` and deduplicated; wedges come from the self-join of
    edges on their LOW endpoint (each wedge generated exactly once by
    ordering the two high endpoints). ``n_wedges`` is therefore the
    ORIENTED (min-rooted) wedge count — the number of triangle
    candidates actually tested, of which each triangle closes exactly
    one — not the classic Σ C(deg, 2) wedge census (a triangle reports
    1 oriented wedge, not 3; get Σ C(d, 2) from
    :func:`pair_degree_census` if you want textbook transitivity).
    A final equi-join against the edge set closes the wedge. Cost ∝ Σ_v deg(v)² for the wedge step —
    the known hot-vertex sensitivity; at corpus scale run it on the
    CLUSTERED pair set (post-LSH candidates, bounded cluster sizes),
    not on a raw similarity matrix. No cartesian anywhere — both steps
    are equi-joins.

    Returns one row: (n_edges, n_wedges, n_triangles). Self-loops are
    dropped; duplicate/reversed input pairs collapse.
    """
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )
    e1 = e.select(F.col("lo").alias("v"), F.col("hi").alias("w1"))
    e2 = e.select(F.col("lo").alias("v"), F.col("hi").alias("w2"))
    wedges = e1.join(e2, on="v").filter(F.col("w1") < F.col("w2"))
    closed = wedges.join(
        e,
        (wedges["w1"] == e["lo"]) & (wedges["w2"] == e["hi"]),
        "left_semi",
    )
    stats = e.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        wedges.agg(F.count("*").cast("long").alias("n_wedges"))
    ).crossJoin(
        closed.agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return stats


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int | None = None,
) -> DataFrame:
    """B32 — ASYMMETRIC near-dup: token-set containment
    ``|A ∩ B| / |A|`` — "how much of A is inside B". The quote/snippet/
    subset-absorption detector symmetric Jaccard structurally misses: a
    200-token excerpt inside a 10k-token page scores Jaccard ≈ 0.02 but
    containment ≈ 1.0. The dedup policy it feeds is "drop the contained
    side, keep the superset".

    Same sparse-inverted-index shape as :func:`jaccard_pairs` (explode
    distinct units, equi-join on the unit, hapax pruning — result-
    identical because sizes come from the unpruned table; only pairs
    sharing a unit ever materialize, never a cross join). Both
    directions of every overlapping pair are scored in the one join
    (containment is directional), and only rows meeting ``threshold``
    survive.

    Returns (id_small, id_big, containment) where id_small is the
    CONTAINED side; a mutual-containment pair (near-identical sets)
    emits both directions.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    pre = df.withColumn("_toks", F.split(normalized_text(text_col), " "))
    units = (
        ngram_shingles(F.col("_toks"), shingle_n) if shingle_n else F.col("_toks")
    )
    tok = pre.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(units)).alias("tok")
    )
    sizes = tok.groupBy("id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("tok")
    pruned = (
        tok.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") >= 2)
        .drop("_df")
    )
    other = pruned.select(F.col("id").alias("id2"), "tok")
    inter = (
        pruned.join(other, on="tok")
        .filter(F.col("id") != F.col("id2"))
        .groupBy("id", "id2")
        .agg(F.count("*").cast("long").alias("_i"))
    )
    scored = inter.join(
        sizes.select(F.col("id"), F.col("sz").alias("_sza")), on="id"
    ).select(
        F.col("id").alias("id_small"),
        F.col("id2").alias("id_big"),
        F.round(F.col("_i") / F.col("_sza"), 4).alias("containment"),
        (F.col("_i") / F.col("_sza")).alias("_raw"),
    )
    return scored.filter(F.col("_raw") >= threshold).drop("_raw")


def containment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    shingle_n: int | None = 3,
) -> DataFrame:
    """B32 — subset-absorption dedup: drop every document whose unit set
    is ≥``threshold`` contained in ANOTHER document (the snippet/excerpt
    cleanup :func:`containment_pairs` detects), keeping supersets. The
    policy: a doc survives unless something else contains it — with the
    mutual-containment tie (near-identical sets, both directions ≥
    threshold) broken to the LOWER id, so exact-duplicate groups keep
    exactly one survivor rather than annihilating each other.

    Composition: one containment-pair pass (inverted index — only
    unit-sharing pairs materialize) + one LEFT ANTI join of the corpus
    against the contained-id set. Cost is the pair pass; the anti join
    shuffles ids only.

    The drop policy is ONE aggregate over the unordered pair key (r13
    optimization): group the directional containment edges by
    (min id, max id) — a mutual pair (both directions present) drops
    the GREATER id, a one-way edge drops its contained side. This is
    exactly the former mutual-semi-join + per-pair-exempted anti-join +
    union formulation (ADVICE r7 semantics: the mutual exemption is
    per-PAIR — a one-way edge into a mutual member still drops it,
    because that edge is its own group here), but the expensive pairs
    subtree is traversed ONCE instead of three times (the semi/anti
    joins re-executed it per branch — measured 2.75 s → 1.7 s at sf0.1,
    rows identical).
    """
    pairs = containment_pairs(
        df, id_col=id_col, text_col=text_col,
        threshold=threshold, shingle_n=shingle_n,
    )
    sym = pairs.select(
        F.least("id_small", "id_big").alias("lo"),
        F.greatest("id_small", "id_big").alias("hi"),
        (F.col("id_small") < F.col("id_big")).alias("_fwd"),
    )
    g = sym.groupBy("lo", "hi").agg(
        F.max("_fwd").alias("_any_fwd"),  # lo contained in hi
        F.min("_fwd").alias("_all_fwd"),  # False iff hi contained in lo
    )
    drop = (
        F.when(F.col("_any_fwd") & ~F.col("_all_fwd"), F.col("hi"))  # mutual
        .when(F.col("_any_fwd"), F.col("lo"))  # one-way: lo ⊂ hi
        .otherwise(F.col("hi"))  # one-way: hi ⊂ lo
    )
    drops = g.select(drop.alias(id_col)).distinct()
    return df.join(drops, on=id_col, how="left_anti")


def dup_rate_by_source(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """B31 — per-source duplication-rate report: for each source, how
    many of its documents are exact (normalized-fingerprint) duplicates
    of an earlier document ANYWHERE in the corpus — the corpus-health
    number a crawl dashboard tracks per feed ("which source is
    re-serving us content"). A doc counts as a duplicate when its
    fingerprint's minimum id belongs to a different doc, so cross-source
    copies are charged to the later source. Exact integers:

      n_docs    documents from the source
      n_dups    of those, exact duplicates of an earlier doc
      dup_bp    n_dups * 10000 div n_docs

    NULL-text contract (r8 ADVICE): text is coalesced to '' BEFORE
    fingerprinting, so NULL-text docs share the empty-document
    fingerprint group on every engine — Spark's window would otherwise
    group NULL fingerprints into one partition while a SQL oracle's
    equi-join on fp drops them, a latent cross-engine divergence.

    One (16-byte fingerprint)-key window min over the corpus — the same
    single shuffle as dedup_by_fingerprint — then a map-side-combined
    per-source aggregate; output bounded by |sources|.
    """
    from pyspark.sql import Window as _W

    with_fp = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        fingerprint(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
    )
    keep = F.min("_id").over(_W.partitionBy("_fp"))
    flagged = with_fp.withColumn("_dup", F.col("_id") != keep)
    g = flagged.groupBy(F.col("_grp").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_dup"), 1).otherwise(0)).cast("long").alias("n_dups"),
    )
    return g.select(
        group_col,
        "n_docs",
        "n_dups",
        F.expr("(n_dups * 10000) div n_docs").alias("dup_bp"),
    )


def lsh_power_curve(
    spark: SparkSession,
    configs: tuple[tuple[int, int], ...] = ((8, 4), (16, 8), (32, 4)),
    s_grid_bp: tuple[int, ...] = tuple(range(500, 10000, 500)),
) -> DataFrame:
    """B32 — the PLANNER for :func:`minhash_candidates`' (bands ×
    rows-per-band) knob: the LSH S-curve — collision probability
    1 − (1 − s^r)^b — evaluated over a similarity grid for each
    candidate config, so the threshold/recall trade is a table you read
    instead of a production run you regret. For each (n_bands b,
    rows_per_band r, similarity s):

      p_band_bp    P(one band collides) = s^r
      recall_bp    P(any band collides) = 1 − (1 − s^r)^b

    Integer-exact contract (the §20 ladder): similarities are BASIS
    POINTS and every power is a floor-division fold —
    x ← (x · s_bp) div 10000 — so both engines produce bit-identical
    tables (IEEE ``pow`` is libm-dependent and flips 4dp ties across
    engines). Each fold floors, and the two folds push in OPPOSITE
    directions (flooring s^r lowers recall, flooring the miss product
    raises it), so points sit within a few bp of the real-valued curve
    on either side — the contract is engine-exactness for the gate,
    not 4-digit fidelity to the analytic formula. Resolution limit:
    each of the r−1 folds floors away up to 1 bp, and in the low-recall
    tail that deficit is amplified ×b — worst-case recall error is
    n_bands × (rows_per_band − 1) bp, hit only where s^r is a few bp
    (configs a planner rejects anyway; near the operating point the
    curve tracks within single-digit bp). Pinned by test across the
    default grid: p_band within 6 bp, recall within b × (r−1) bp.

    Plan shape: the grid is |configs| × |s values| literal rows built
    driver-side (bounded by construction); every curve point is one
    row-local ``aggregate`` fold over a ``sequence`` — no shuffle, no
    data touched at all. Spark pitfall guarded: ``sequence(2, n)`` is
    DESCENDING for n < 2, so r=1 / b=1 take explicit identity branches.
    """
    rows = [
        (int(b), int(r), int(s))
        for b, r in configs
        for s in s_grid_bp
    ]
    if not rows:
        raise ValueError("configs and s_grid_bp must be non-empty")
    if any(not 0 <= s <= 10000 for _, _, s in rows):
        raise ValueError("similarities must be basis points in [0, 10000]")
    if any(b < 1 or r < 1 for b, r, _ in rows):
        raise ValueError("bands and rows_per_band must be >= 1")
    grid = spark.createDataFrame(
        rows, "n_bands int, rows_per_band int, s_bp long"
    )
    p_band = F.when(
        F.col("rows_per_band") >= 2,
        F.expr(
            "aggregate(sequence(2, rows_per_band), s_bp,"
            " (acc, i) -> (acc * s_bp) div 10000)"
        ),
    ).otherwise(F.col("s_bp"))
    g = grid.withColumn("p_band_bp", p_band.cast("long"))
    miss = F.when(
        F.col("n_bands") >= 2,
        F.expr(
            "aggregate(sequence(2, n_bands), 10000 - p_band_bp,"
            " (acc, i) -> (acc * (10000 - p_band_bp)) div 10000)"
        ),
    ).otherwise(F.lit(10000) - F.col("p_band_bp"))
    return g.select(
        "n_bands",
        "rows_per_band",
        "s_bp",
        "p_band_bp",
        (F.lit(10000) - miss).cast("long").alias("recall_bp"),
    )


def pair_degree_census(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """B32 — degree distribution of the near-dup candidate graph: for
    each degree d, how many nodes have exactly d candidate partners,
    plus graph totals. The health check you run BETWEEN candidate
    generation and connected components — a fat right tail (hub nodes
    touching thousands of partners) is the signature of boilerplate or
    a degenerate shingle that will glue the whole corpus into one
    component and stall the pointer-doubling loop; cap or re-shingle
    BEFORE paying for components, not after.

      degree          candidate partners per node (exact)
      n_nodes         nodes with exactly this degree
      n_nodes_total   nodes appearing in >=1 pair
      n_edges_total   candidate pairs
      max_degree      the fattest hub

    All integers — no rounding contract. Plan shape: explode each pair
    into its two endpoints (2 rows/edge), one map-side-combined count
    per node, one count per degree (output bounded by max_degree), a
    1-row totals broadcast. Nothing beyond the pair table's own size.
    """
    # NULL-endpoint pairs are dropped: a (NULL, x) pair would otherwise
    # census NULL as a real node (one phantom node, one phantom edge,
    # and a +1 phantom partner on x) — the census must describe the
    # graph the downstream components run will actually see, which
    # skips NULL ids at every equi-join.
    pairs = pairs.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    ends = pairs.select(F.col(a_col).alias("node")).unionAll(
        pairs.select(F.col(b_col).alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    totals = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_total"),
        # Integer division — sum of degrees is always even (each edge
        # contributes exactly 2), and double division would lose
        # exactness past 2^53 total degree, breaking the module's
        # all-integer contract.
        F.expr("sum(degree) div 2").cast("long").alias("n_edges_total"),
        F.max("degree").cast("long").alias("max_degree"),
    )
    return hist.crossJoin(F.broadcast(totals)).select(
        "degree", "n_nodes", "n_nodes_total", "n_edges_total", "max_degree"
    )


def dedup_token_savings(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """B31 — what dedup is WORTH, in tokens: per source, document and
    token volumes before vs after keep-first fingerprint dedup, plus
    the basis-point token savings — the number that justifies (or
    kills) running dedup ahead of a training run, and the per-feed line
    in the compute/storage budget. The companion REPORT to
    :func:`dup_rate_by_source`: that one counts duplicate documents,
    this one prices them (a source re-serving its ten longest articles
    hurts more than one re-serving ten tweets).

      n_docs / n_docs_kept       documents before / after keep-first
                                 (survivor = the fingerprint's min id,
                                 charged to the survivor's source)
      n_tokens / n_tokens_kept   exact whitespace-token volumes
      savings_bp                 (n_tokens − n_tokens_kept) · 10000
                                 div n_tokens; 0 when the source has
                                 no tokens at all

    NULL-text contract (the dup_rate_by_source posture): text coalesces
    to '' BEFORE fingerprinting — NULL-text docs share the
    empty-document fingerprint group on every engine — and a NULL or
    empty-normalized document counts EXACTLY 0 tokens. The zero is
    explicit (``when(norm == '', 0)``) rather than riding an engine's
    split-of-empty-string convention: Spark pins ``size(split('', ' '))``
    at 1 while DuckDB's equivalent changed across versions, so only an
    explicit CASE on both engines is certification-stable (round-10
    driver red row).

    One (16-byte fingerprint)-key window min over the corpus — the same
    single shuffle as dedup_by_fingerprint; token counts ride the same
    scan — then a map-side-combined per-source aggregate; output
    bounded by |sources|. All integers.
    """
    from pyspark.sql import Window as _W

    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    ntok = (
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
    )
    with_fp = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        F.md5(norm).alias("_fp"),
        ntok.alias("_ntok"),
    )
    keep = F.min("_id").over(_W.partitionBy("_fp"))
    flagged = with_fp.withColumn("_kept", F.col("_id") == keep)
    g = flagged.groupBy(F.col("_grp").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_kept"),
        F.sum("_ntok").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_kept"), F.col("_ntok")).otherwise(0))
        .cast("long")
        .alias("n_tokens_kept"),
    )
    savings = F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("((n_tokens - n_tokens_kept) * 10000) div n_tokens")
    )
    return g.select(
        group_col,
        "n_docs",
        "n_docs_kept",
        "n_tokens",
        "n_tokens_kept",
        savings.alias("savings_bp"),
    )


def dedup_by_canonical_url(
    df: DataFrame,
    url_col: str = "url",
    order_by: "Sequence[Column] | None" = None,
    out_col: str = "url_canonical",
) -> DataFrame:
    """B31 — one survivor per CANONICAL URL: the refetch/mirror cleanup
    every crawl corpus needs (the same page arrives under utm-decorated,
    fragment-suffixed, www-prefixed spellings; bytes may differ, the page
    is one). Key = :func:`text.canonicalize_url` of ``url_col``; the
    survivor is row 1 under ``order_by`` — the caller MUST pass a
    deterministic total order (e.g. quality desc, id asc), the same
    keep-best contract as :func:`cluster_dedup_best`.

    Plan: one projection (JVM regex, codegen) + one window shuffle on the
    canonical key. URL keys are near-unique, so the shuffle is skew-free
    by construction; no join, no second scan. Returns the survivors with
    ``out_col`` attached.
    """
    if not order_by:
        raise ValueError(
            "dedup_by_canonical_url requires an explicit deterministic "
            "order_by (keep-best contract)"
        )
    from ddataframeoperation_spark.operators.text import canonicalize_url

    w = Window.partitionBy(out_col).orderBy(*order_by)
    return (
        df.withColumn(out_col, canonicalize_url(url_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _pagerank_kernel(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int,
    damping_bp: int,
    unit: int,
    max_rows: int = 5_000_000,
) -> DataFrame:
    """Single-kernel exact PageRank (see :func:`pagerank`): one cogroup
    on a constant key, all rounds in Python arbitrary-precision ints —
    bit-identical to the DECIMAL(38,0)/``div`` recurrence, including
    the contracts: NULL ids/edges dropped up front; W(u) sums EVERY
    non-NULL edge of u (even to off-list dsts — whose inflow then
    vanishes, the dangling-drop contract); ranks only for listed nodes;
    a source whose TOTAL out-weight is zero contributes nothing (the
    iterative path's 0-denominator ``div`` yields NULL contributions
    that the sum drops — the kernel skips those edges identically
    instead of raising, ADVICE r13).

    PRECONDITION (ADVICE r13): node ids must be DISTINCT. The kernel
    keys ranks by id, while the iterative path's edges⋈ranks join would
    match each edge once per duplicate rank row — the two paths diverge
    after round 1 on duplicate node lists, so duplicates are outside
    the bit-identical contract (both registered call sites aggregate
    nodes before ranking).

    SIZE GUARD (VERDICT r13): the cogroup on a constant key puts the
    whole graph in ONE task — that is the caller's boundedness claim
    (``pagerank(arrow_kernel=True)`` documents it). ``max_rows`` makes
    a wrong claim fail loudly with a clear message instead of OOMing an
    executor at scale.
    """
    import pandas as pd

    n = nodes.select(F.col(nodes.columns[0]).alias("id")).filter(
        F.col("id").isNotNull()
    )
    e = edges.select(
        "src", "dst", F.col("w").cast("decimal(38,0)").alias("w")
    ).filter(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & F.col("w").isNotNull()
    )
    id_type = dict(n.dtypes)["id"]
    base = (10000 - damping_bp) * unit // 10000

    def kern(npdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        if len(npdf) + len(epdf) > max_rows:
            raise ValueError(
                f"pagerank arrow_kernel: graph has {len(npdf)} nodes + "
                f"{len(epdf)} edges > max_rows={max_rows}; the kernel "
                "holds the whole graph in one task — use the iterative "
                "path (arrow_kernel=False) for unbounded graphs, or "
                "raise max_rows if the task memory genuinely fits it"
            )
        ids = list(npdf["id"])
        rank = dict.fromkeys(ids, unit)
        wout: dict = {}
        ed = []
        for s, d, w in zip(epdf["src"], epdf["dst"], epdf["w"]):
            w = int(w)
            ed.append((s, d, w))
            wout[s] = wout.get(s, 0) + w
        for _ in range(n_iter):
            inflow: dict = {}
            for s, d, w in ed:
                r = rank.get(s)
                if r is not None and wout[s]:
                    inflow[d] = inflow.get(d, 0) + (r * w) // wout[s]
            rank = {
                i: base + (damping_bp * inflow.get(i, 0)) // 10000
                for i in rank
            }
        return pd.DataFrame(
            {"id": ids, "rank_units": [rank[i] for i in ids]}
        )

    return (
        n.groupBy(F.lit(0).alias("_g"))
        .cogroup(e.groupBy(F.lit(0).alias("_g")))
        .applyInPandas(kern, f"id {id_type}, rank_units long")
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 8,
    damping_bp: int = 8500,
    unit: int = 10**9,
    arrow_kernel: bool = False,
    kernel_max_rows: int = 5_000_000,
) -> DataFrame:
    """Weighted PageRank in EXACT fixed-point integer arithmetic — the
    graph-centrality quality signal crawl pipelines attach to domains
    (the harmonic-centrality/PageRank rankings behind Common Crawl-style
    corpus weighting), computable by any engine bit-for-bit.

    ``nodes`` is (id); ``edges`` is directed (src, dst, w) with positive
    integral weights (long or DECIMAL(38,0)). Ranks live in integer
    ``unit``s of node-mass (init = ``unit`` per node) and every update is

        r'(v) = ((10000-d)·unit) div 10000 + (d · Σ_in floor(r(u)·w/W(u))) div 10000

    with d = ``damping_bp`` and W(u) the out-weight total — all products
    in DECIMAL(38,0) and all divisions integral ``div``, so the result is
    a pure function of the graph: no float partial-sum order, no
    engine-specific rounding, exactly reproducible in a recursive/unrolled
    SQL oracle. Stated contracts: DANGLING mass is dropped (nodes without
    out-edges redistribute nothing; ranks then sum to < n·unit — the
    simple-and-deterministic choice, not the teleport-all variant);
    fixed ``n_iter`` rather than a convergence test (the oracle must
    replay the identical number of rounds). Exactness bound: r·w must fit
    DECIMAL(38,0) — at defaults that is rank ≤ n·unit and weights below
    ~10^28/n·unit; shrink ``unit`` for >10^9-node graphs (the knob is in
    units, not correctness).

    Plan/scale: per iteration one edges⋈ranks join (shuffle on src — or a
    broadcast when the rank table is small), one sum shuffle on dst, one
    left join back to nodes; lineage is truncated per round by
    :func:`_truncate`, exactly like :func:`connected_components`.

    Returns (id, rank_units long).

    ``arrow_kernel=True`` (r13 optimization, opt-in): run ALL
    ``n_iter`` rounds in ONE cogrouped Arrow kernel — Python
    arbitrary-precision integers reproduce the DECIMAL(38,0)/``div``
    recurrence bit-for-bit, with the identical dangling/off-node-list
    contracts. For graphs the CALLER knows are bounded after
    aggregation (a nation-level trade graph, a min_count-pruned
    vocabulary graph — the usual shape: the aggregated edge list is
    tiny next to the fact scan that builds it), this replaces
    ``n_iter`` join+agg+checkpoint rounds with one task holding the
    edge list — the same "one bounded block in memory" contract as
    every blocked kernel here. The iterative path stays the default
    for unbounded graphs. Measured: 8 rounds on the
    25-node nation graph 1.5 s → one 0.1 s job. ``kernel_max_rows``
    (r14, VERDICT r13 guard): the kernel REFUSES graphs above this
    node+edge row bound instead of OOMing the one task a wrong
    boundedness claim would overload. Kernel precondition: distinct
    node ids (see :func:`_pagerank_kernel`).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not 0 <= damping_bp <= 10000:
        raise ValueError("damping_bp must be in [0, 10000]")
    if arrow_kernel:
        return _pagerank_kernel(
            nodes, edges, n_iter, damping_bp, unit,
            max_rows=kernel_max_rows,
        )
    # Materialize the node list once: it is re-joined EVERY round (the
    # dangling-node left join), and an expensive upstream lineage — e.g.
    # keyword_pagerank's corpus-wide skipgram explode — would otherwise
    # be re-executed n_iter+1 times (measured 6 extra corpus scans at
    # n_iter=6 before this truncate).
    # NULL-id nodes and NULL-field edges are dropped up front. A NULL-id
    # node would emit a garbage (NULL, base) rank row, and a NULL-dst
    # edge is worse than harmless: its weight counts into W(src), so the
    # src's REAL out-edges each forward rank·w/W with an inflated W —
    # silently siphoning mass that the dangling-drop contract never
    # covered (the mass itself then vanishes at the node join).
    n = _truncate(
        nodes.select(F.col(nodes.columns[0]).alias("id")).filter(
            F.col("id").isNotNull()
        )
    )
    e = edges.select(
        F.col("src"),
        F.col("dst"),
        F.col("w").cast("decimal(38,0)").alias("w"),
    ).filter(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & F.col("w").isNotNull()
    )
    wout = e.groupBy("src").agg(F.sum("w").alias("wt"))
    # Materialize the (static) edge+out-weight relation once; every round
    # re-joins it, and recomputing the source aggregation per round would
    # multiply the heaviest shuffle by n_iter.
    ew = _truncate(e.join(wout, "src"))

    base = F.lit((10000 - damping_bp) * unit // 10000).cast("long")
    ranks = _truncate(
        n.withColumn("rank_units", F.lit(unit).cast("long"))
    )
    for _ in range(n_iter):
        inflow = (
            ew.join(ranks, ew["src"] == ranks["id"])
            .select(
                F.col("dst"),
                F.expr(
                    "CAST(rank_units AS DECIMAL(38,0)) * w div wt"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = _truncate(
            n.join(inflow, n["id"] == inflow["dst"], "left")
            .select(
                "id",
                (
                    base
                    + F.expr(
                        f"CAST({damping_bp} AS DECIMAL(38,0))"
                        " * coalesce(inflow, CAST(0 AS DECIMAL(38,0)))"
                        " div 10000"
                    ).cast("long")
                ).alias("rank_units"),
            )
        )
    return ranks


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 6,
    unit: int = 10**9,
) -> DataFrame:
    """Weighted HITS (hubs & authorities) in EXACT fixed-point integer
    arithmetic — the directed-graph complement of :func:`pagerank`: a
    good HUB points at good authorities, a good AUTHORITY is pointed at
    by good hubs. On a crawl/citation/trade graph the two roles
    genuinely differ (an aggregator links out, a canonical source links
    in), which one PageRank score cannot express.

    ``nodes`` is (id); ``edges`` is directed (src, dst, w) with positive
    integral weights. Scores live in integer ``unit``s (init: hub =
    ``unit`` per node) and each iteration is

        a_raw(v) = Σ_{u→v} h(u)·w(u,v);   a(v) = a_raw(v)·unit div A
        h_raw(u) = Σ_{u→v} a(v)·w(u,v);   h(u) = h_raw(u)·unit div H

    with A/H the global raw totals — the L1 normalization HITS needs
    for convergence, done in integral ``div`` so the result is a pure
    function of the graph (oracle-able by unrolled CTEs exactly like
    :func:`pagerank`'s). Stated contracts: nodes without in-edges hold
    authority 0 (and without out-edges hub 0); fixed ``n_iter``;
    normalized scores sum to ≤ ``unit`` (floor losses stay unassigned).
    Exactness bound: h·w products must fit DECIMAL(38,0) — at defaults
    that is weights below ~10^28/(n·unit); shrink ``unit`` for huge
    graphs, same knob as pagerank's.

    Plan/scale: per iteration two edges⋈scores joins (shuffles carry
    (id, score) only), two node-sized aggregates, and two 1-ROW global
    totals broadcast back for the normalization — no global sort, no
    driver-side state beyond the scalar. Lineage truncated per round by
    :func:`_truncate`, as in pagerank.

    Returns (id, hub_units long, auth_units long).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")

    # NULL-id nodes and NULL-field edges are dropped up front. Beyond
    # the garbage output row a NULL-id node would add, a NULL-dst edge
    # here is a GLOBAL distortion: its propagated mass lands in a
    # _t=NULL group that the node join discards — but only AFTER that
    # mass counted into the L1 total the normalization divides by, so
    # every real node's score deflates.
    n = _truncate(
        nodes.select(F.col(nodes.columns[0]).alias("id")).filter(
            F.col("id").isNotNull()
        )
    )
    ew = _truncate(
        edges.select(
            F.col("src"),
            F.col("dst"),
            F.col("w").cast("decimal(38,0)").alias("w"),
        ).filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & F.col("w").isNotNull()
        )
    )

    def _norm_pass(scores: DataFrame, score_col: str, join_on: str,
                   group_to: str) -> DataFrame:
        # one propagation + the unit-scaled integral normalization
        raw = (
            ew.join(scores, ew[join_on] == scores["id"])
            .select(
                F.col(group_to).alias("_t"),
                F.expr(f"CAST({score_col} AS DECIMAL(38,0)) * w").alias("_c"),
            )
            .groupBy("_t")
            .agg(F.sum("_c").alias("_raw"))
        )
        # materialized: _raw feeds BOTH the global total and the join —
        # without this the edge-sized propagation join runs twice per pass
        raw = _truncate(raw)
        tot = raw.agg(F.sum("_raw").alias("_tot"))
        return (
            n.join(raw, n["id"] == raw["_t"], "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "id",
                F.expr(
                    "CASE WHEN _tot IS NULL OR _tot = 0 THEN CAST(0 AS LONG)"
                    " ELSE CAST(coalesce(_raw, CAST(0 AS DECIMAL(38,0)))"
                    f"      * {int(unit)} div _tot AS LONG) END"
                ).alias(score_col),
            )
        )

    # Only the RAW propagation tables are truncated (inside _norm_pass):
    # each score table is just two lazy node-sized ops (left join +
    # 1-row cross) over its materialized raw, so lineage stays bounded
    # without eagerly materializing scores too — half the checkpoint
    # jobs per iteration.
    hub = _truncate(n.withColumn("h", F.lit(int(unit)).cast("long")))
    auth = None
    for _ in range(n_iter):
        auth = _norm_pass(hub, "h", "src", "dst").withColumnRenamed(
            "h", "a"
        )
        hub = _norm_pass(auth, "a", "dst", "src").withColumnRenamed(
            "a", "h"
        )
    return (
        hub.join(auth, "id")
        .select(
            "id",
            F.col("h").alias("hub_units"),
            F.col("a").alias("auth_units"),
        )
    )


def common_neighbor_pairs(
    pairs: DataFrame,
    min_common: int = 2,
    max_degree: int | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """B32 — second-order candidates the first pass missed: node pairs
    that are NOT candidate pairs themselves but share >= ``min_common``
    neighbors in the candidate graph — classic common-neighbors link
    prediction, used here as the near-dup reviewer ("A≈X and B≈X twice
    over, yet A–B never became a candidate — check the threshold /
    banding before trusting the clusters"). Connected components would
    already MERGE these transitively; this reports the missing DIRECT
    edges with their evidence count, which is the thing a threshold
    audit wants.

    Input is an undirected edge list (id_a, id_b); output
    (id_a < id_b, n_common) for non-adjacent pairs only. Plan: one
    wedge self-join of the adjacency on the shared node (cost
    Σ_v deg(v)² over WEDGE CENTERS), one count aggregate, one
    left-anti join against the existing edges. Ids and counts only —
    never payloads.

    100 TB posture — the wedge budget is quadratic in CENTER degree,
    and unlike :func:`triangle_count` no orientation can shrink it:
    every wedge through a hub is a real candidate pair, so one
    boilerplate hub of degree 10⁶ EMITS ~5·10¹¹ pairs — the output
    itself detonates, not just the join. ``max_degree`` is therefore
    the scale contract: nodes with degree > ``max_degree`` are
    excluded as wedge centers (their spoke pairs are exactly the
    pairs whose "evidence" is one promiscuous hub — the least
    informative signal in link prediction, dropped first on purpose).
    At crawl scale ALWAYS set it (a few hundred is typical); run
    :func:`pair_degree_census` first to see the degree tail, and
    count the excluded hubs from that census (`degree > max_degree`).
    Default ``None`` keeps the exact semantics for bounded graphs and
    the registered oracle.

    ``block_col`` (r13 optimization): when the input graph is BLOCKED —
    every edge row carries a blocking key and no node appears in more
    than one block (true for any candidate graph built by a blocked
    pair generator, e.g. :func:`jaccard_pairs` with ``group_col`` +
    ``keep_group``) — wedges can never cross blocks, so the counts are
    computed per block by ONE grouped Arrow kernel: the 0/1 adjacency
    matrix ``A`` gives ALL common-neighbor counts as the matmul
    ``A·A`` (``A·diag(deg≤max_degree)·A`` under the hub guard), exact
    integers, instead of materializing the Σdeg² wedge self-join rows
    through a shuffle (measured 4.4 s → 0.3 s on the sf0.1 bench graph
    of 550k edges / 2.4·10⁸ wedges; same exact result, hash-verified).
    The kernel holds one BLOCK's adjacency in memory — the same
    contract as the blocked jaccard kernel; the wedge join remains the
    unblocked/100 TB default.
    """
    if block_col is not None:
        return _wedge_block_kernel(pairs, min_common, max_degree, block_col)
    return _wedge_link_pairs(pairs, min_common, max_degree, weighted=False)


def adamic_adar_pairs(
    pairs: DataFrame,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """B32 — Adamic–Adar link prediction over the candidate graph:
    non-adjacent pairs scored by ``AA(u,v) = Σ_{x ∈ Γ(u)∩Γ(v)}
    1/ln(deg(x))`` — :func:`common_neighbor_pairs` with each shared
    neighbor weighted DOWN by its promiscuity, the standard refinement
    when the candidate graph has popular nodes: a wedge through a
    boilerplate hub is weak evidence, a wedge through a degree-2 node
    is strong. Every wedge center has degree ≥ 2 (it touches both
    endpoints), so ln(deg) > 0 and the weight is always finite.

    Same plan and 100 TB posture as :func:`common_neighbor_pairs` (one
    degree aggregate, one wedge self-join costed Σ deg² over CENTERS,
    one anti-join; ``max_degree`` excludes hub centers — which under
    this weighting contribute the least per wedge anyway, so the guard
    distorts AA far less than the raw count). Output
    (id_a < id_b, n_common, aa_score) with the score rounded to 4
    decimals — the sum's addend order differs across engines at ~1e-15
    relative, the standard rounding contract.
    """
    return _wedge_link_pairs(pairs, min_common, max_degree, weighted=True)


def _wedge_block_kernel(
    pairs: DataFrame,
    min_common: int,
    max_degree: int | None,
    block_col: str,
) -> DataFrame:
    """Blocked common-neighbor counts (see :func:`common_neighbor_pairs`):
    one grouped Arrow kernel per block, counts from the adjacency matmul.

    Exactness: with ``A`` the symmetric 0/1 adjacency (self-loops kept on
    the diagonal — a self-loop makes a node its own neighbor, matching
    the wedge join's symmetrized-adjacency semantics), ``(A·A)[u,v] =
    Σ_x A[u,x]·A[x,v]`` is the common-neighbor count; float64 matmul is
    exact for integer counts (≪ 2^53). ``max_degree`` masks hub CENTERS
    out of the inner dimension — identical to the join path's guard.
    Output pairs are non-adjacent, id_a < id_b, count ≥ min_common —
    bitwise the join path's rows.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    if max_degree is not None and max_degree < 1:
        raise ValueError("max_degree must be >= 1")
    import numpy as np
    import pandas as pd

    id_type = dict(pairs.dtypes)["id_a"]
    edges = pairs.select("id_a", "id_b", F.col(block_col).alias("_blk")).filter(
        F.col("id_a").isNotNull() & F.col("id_b").isNotNull()
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "n_common": []})
        if len(pdf) == 0:
            return empty
        a = pdf["id_a"].to_numpy()
        b = pdf["id_b"].to_numpy()
        ids = np.unique(np.concatenate([a, b]))
        n = len(ids)
        if n < 2:
            return empty
        ia = np.searchsorted(ids, a)
        ib = np.searchsorted(ids, b)
        A = np.zeros((n, n), dtype=np.float64)
        A[ia, ib] = 1.0
        A[ib, ia] = 1.0
        if max_degree is not None:
            mask = (A.sum(axis=1) <= float(max_degree)).astype(np.float64)
            counts = (A * mask[None, :]) @ A
        else:
            counts = A @ A
        iu, ju = np.triu_indices(n, k=1)
        c = counts[iu, ju]
        keep = (c >= float(min_common)) & (A[iu, ju] == 0.0)
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "n_common": c[keep].astype(np.int64),
            }
        )

    from ddataframeoperation_spark.operators.script import apply_script_grouped

    return apply_script_grouped(
        edges, ["_blk"], kernel, f"id_a {id_type}, id_b {id_type}, n_common long"
    )


def _wedge_link_pairs(
    pairs: DataFrame,
    min_common: int,
    max_degree: int | None,
    weighted: bool,
) -> DataFrame:
    """Shared wedge pipeline behind :func:`common_neighbor_pairs`
    (``weighted=False``: raw counts) and :func:`adamic_adar_pairs`
    (``weighted=True``: + 1/ln(degree) center weights): symmetrize,
    optionally guard/annotate wedge CENTERS via the node-sized degree
    table, one wedge self-join on the shared node (cost Σ deg² over
    centers), one aggregate, one anti-join against existing edges.

    Guard semantics (both callers): hubs above ``max_degree`` are
    excluded as the shared NEIGHBOR only — their own pairings through
    non-hub centers survive. The degree table joins the e1 side alone;
    the wedge equi-join needs the center on both sides, so that kills
    every hub-centered wedge before the quadratic blow-up
    materializes.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    # NULL-id edges can never form a wedge (the equi-join on the shared
    # node skips NULLs) but WOULD count into the degree table, inflating
    # deg(center) — which both understates 1/ln(deg) AA weights and can
    # push a legitimate center over max_degree, silently dropping its
    # candidate pairs. Drop them before symmetrizing.
    pairs = pairs.filter(
        F.col("id_a").isNotNull() & F.col("id_b").isNotNull()
    )
    adj = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionAll(
            pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
        )
        .distinct()
    )
    e1 = adj.select(F.col("b").alias("x"), F.col("a").alias("u"))
    e2 = adj.select(F.col("a").alias("x2"), F.col("b").alias("v"))
    if weighted or max_degree is not None:
        deg = adj.groupBy("a").agg(
            F.count(F.lit(1)).cast("long").alias("_deg")
        )
        if max_degree is not None:
            if max_degree < 1:
                raise ValueError("max_degree must be >= 1")
            deg = deg.filter(F.col("_deg") <= max_degree)
        # node-sized, broadcastable; inner join doubles as the hub guard
        e1 = e1.join(deg.select(F.col("a").alias("x"), "_deg"), "x")
    aggs = [F.count(F.lit(1)).alias("n_common")]
    if weighted:
        e1 = e1.withColumn("_w", F.lit(1.0) / F.log(F.col("_deg")))
        aggs.append(F.round(F.sum("_w"), 4).alias("aa_score"))
    wedges = (
        e1.join(e2, (e1["x"] == e2["x2"]) & (e1["u"] < e2["v"]))
        .groupBy(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        .agg(*aggs)
        .filter(F.col("n_common") >= min_common)
    )
    existing = pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).distinct()
    return wedges.join(existing, ["id_a", "id_b"], "left_anti")
