"""Round-13 optimization parity tests: every kernel/path swap the
optimization round makes must be provably result-identical to the path
it replaces — on adversarial synthetic inputs, not just the fixtures
(the oracle sweep covers those)."""

from __future__ import annotations

import random

import pytest

from ddataframeoperation_spark.operators import dedup


def _random_blocked_graph(seed: int, n_blocks: int = 4, nodes_per_block: int = 40):
    """Random blocked edge list with duplicates and self-loops mixed in —
    node ids are globally unique, each node lives in exactly one block
    (the block_col contract)."""
    rng = random.Random(seed)
    rows = []
    for blk in range(n_blocks):
        base = blk * 1000
        ids = [base + i for i in range(nodes_per_block)]
        for _ in range(nodes_per_block * 4):
            a, b = rng.choice(ids), rng.choice(ids)
            rows.append((a, b, f"s{blk}"))  # self-loops when a == b
        rows.extend(rows[-3:])  # duplicate edges
    return rows


@pytest.mark.parametrize("max_degree", [None, 5, 12])
def test_common_neighbor_block_kernel_matches_wedge_join(spark, max_degree):
    rows = _random_blocked_graph(seed=13)
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, src string")
    join_path = dedup.common_neighbor_pairs(
        pairs.select("id_a", "id_b"), min_common=2, max_degree=max_degree
    )
    kernel_path = dedup.common_neighbor_pairs(
        pairs, min_common=2, max_degree=max_degree, block_col="src"
    )
    assert join_path.columns == kernel_path.columns
    assert join_path.dtypes == kernel_path.dtypes
    j = sorted(map(tuple, join_path.collect()))
    k = sorted(map(tuple, kernel_path.collect()))
    assert j == k
    assert len(j) > 0  # the comparison must not be vacuous


def test_common_neighbor_block_kernel_drops_null_endpoints(spark):
    rows = [(1, 2, "a"), (2, 3, "a"), (3, 4, "a"), (None, 9, "a"), (9, None, "a")]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, src string")
    out = dedup.common_neighbor_pairs(pairs, min_common=1, block_col="src")
    got = sorted(map(tuple, out.collect()))
    # wedges: 1-2-3 and 2-3-4; NULL edges contribute nothing
    assert got == [(1, 3, 1), (2, 4, 1)]


def test_jaccard_keep_group_both_paths(spark):
    """The blocked kernel, with and without ``keep_group``, equals the
    unblocked inverted-index path filtered to same-group pairs."""
    rows = [
        (1, "alpha beta gamma", "s1"),
        (2, "alpha beta gamma delta", "s1"),
        (3, "alpha beta", "s1"),
        (4, "alpha beta gamma", "s2"),   # cross-group twin of 1: no pair
        (10, "red green blue", "s2"),
        (11, "red green blue", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    group = {i: g for i, _, g in rows}
    ref = sorted(
        (a, b, j)
        for a, b, j in map(
            tuple, dedup.jaccard_pairs(docs, threshold=0.5).collect()
        )
        if group[a] == group[b]
    )
    base = sorted(map(tuple, dedup.jaccard_pairs(
        docs, group_col="source", threshold=0.5).collect()))
    assert base == ref and len(ref) > 0
    out = dedup.jaccard_pairs(
        docs, group_col="source", threshold=0.5, keep_group=True
    )
    assert out.columns == ["id_a", "id_b", "jacc", "source"]
    got = sorted(map(tuple, out.collect()))
    # same pairs/scores as without keep_group, block value appended
    assert [(a, b, j) for a, b, j, _ in got] == ref
    assert all(g == group[a] for a, b, j, g in got)


def test_jaccard_blocked_drops_null_group_and_null_id(spark):
    """A NULL block key or a NULL id pairs with nothing, as in SQL's
    ``a.grp = b.grp AND a.id < b.id``."""
    rows = [
        (1, "alpha beta gamma delta", None),
        (2, "alpha beta gamma delta", None),
        (3, "red green blue", "s"),
        (4, "red green blue", "s"),
        (None, "red green blue", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(map(tuple, dedup.jaccard_pairs(
        docs, group_col="source", threshold=0.5).collect()))
    assert got == [(3, 4, 1.0)]


def test_jaccard_keep_group_requires_group_col(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="keep_group requires group_col"):
        dedup.jaccard_pairs(docs, keep_group=True)


def test_connected_components_block_kernel_matches_iterative(spark):
    rows = _random_blocked_graph(seed=7)
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, src string")
    it = dedup.connected_components(pairs.select("id_a", "id_b"))
    blk = dedup.connected_components(pairs, block_col="src")
    assert it.columns == blk.columns
    assert it.dtypes == blk.dtypes
    i = sorted(map(tuple, it.collect()))
    b = sorted(map(tuple, blk.collect()))
    assert i == b
    assert len(i) > 0


def test_connected_components_block_kernel_null_and_selfloop(spark):
    rows = [(1, 2, "a"), (2, 2, "a"), (None, 5, "a"), (7, None, "a"), (9, 9, "b")]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, src string")
    got = sorted(
        map(tuple, dedup.connected_components(pairs, block_col="src").collect())
    )
    # NULL-endpoint pairs dropped whole; self-loops label themselves.
    assert got == [(1, 1), (2, 1), (9, 9)]


def test_contraction_pass_preserves_iterative_semantics(spark):
    # A long chain deliberately scattered across partitions: the map-side
    # union-find contraction must not change labels, convergence behavior,
    # or the non-convergence contract.
    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    ).repartition(16)
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert len(comp) == n + 1 and set(comp.values()) == {0}


def test_jaccard_refine_matches_semijoined_pairs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today!"),
        (3, "the quick brown fox leaps over the lazy dog today"),
        (4, "an entirely different document about query engines"),
        (5, "xy"),  # shorter than the shingle window: empty unit set
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (4, 5), (1, 2), (None, 2)],
        "id_a long, id_b long",
    )
    for thr, sn in [(0.5, 3), (0.9, 3), (0.5, None)]:
        old = dedup.jaccard_pairs(docs, threshold=thr, shingle_n=sn).join(
            cands, ["id_a", "id_b"], "leftsemi"
        )
        new = dedup.jaccard_refine(docs, cands, threshold=thr, shingle_n=sn)
        o = sorted(map(tuple, old.collect()))
        n = sorted(map(tuple, new.collect()))
        assert o == n, f"thr={thr} shingle_n={sn}: {o} != {n}"
    assert len(n) > 0


def test_jaccard_refine_scores_reversed_pair_as_its_twin(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today!"),
            (3, "the quick brown fox leaps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )

    def refine(pairs):
        cands = spark.createDataFrame(pairs, "id_a long, id_b long")
        return sorted(
            map(tuple, dedup.jaccard_refine(docs, cands, threshold=0.3).collect())
        )

    ordered = refine([(1, 2), (1, 3)])
    assert len(ordered) == 2
    # Reversed candidates score as their ordered twins, reported (lo, hi);
    # a pair given both ways collapses to one row; a self-pair scores nothing.
    assert refine([(2, 1), (3, 1)]) == ordered
    assert refine([(1, 2), (2, 1), (3, 1), (3, 3)]) == ordered


def test_pagerank_kernel_matches_iterative(spark):
    rng = random.Random(42)
    node_ids = list(range(30))
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    # random weighted digraph + dangling nodes + an edge to an OFF-LIST
    # dst (999) and from an off-list src (998): every stated contract.
    edge_rows = [
        (rng.choice(node_ids), rng.choice(node_ids), rng.randint(1, 50))
        for _ in range(120)
    ] + [(3, 999, 7), (998, 4, 9)]
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    it = dedup.pagerank(nodes, edges, n_iter=5, damping_bp=8500)
    kn = dedup.pagerank(nodes, edges, n_iter=5, damping_bp=8500,
                        arrow_kernel=True)
    assert it.columns == kn.columns and it.dtypes == kn.dtypes
    i = sorted(map(tuple, it.collect()))
    k = sorted(map(tuple, kn.collect()))
    assert i == k
    assert len(i) == 30


def test_pagerank_kernel_string_ids(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    it = sorted(map(tuple, dedup.pagerank(nodes, edges, n_iter=4).collect()))
    kn = sorted(
        map(
            tuple,
            dedup.pagerank(nodes, edges, n_iter=4, arrow_kernel=True).collect(),
        )
    )
    assert it == kn


def test_cluster_dedup_best_still_keeps_best(spark):
    # cluster_dedup_best kept its aggregate form (survivor = max score);
    # pin that the simplified cluster_dedup and it stay consistent on the
    # degenerate case where scores are equal (ties -> lowest id == the
    # cluster_dedup survivor).
    docs = spark.createDataFrame(
        [(i, "t", 1.0) for i in (1, 2, 3, 9)],
        "doc_id long, text string, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    a = sorted(r["doc_id"] for r in dedup.cluster_dedup(docs, pairs).collect())
    b = sorted(
        r["doc_id"]
        for r in dedup.cluster_dedup_best(docs, pairs, score_col="quality").collect()
    )
    assert a == b == [1, 9]
