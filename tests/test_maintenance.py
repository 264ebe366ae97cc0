"""Incremental dedup and the reliable lineage-truncation path."""

from __future__ import annotations

import glob

import pytest

from ddataframeoperation_spark.operators import dedup


def test_dedup_increment(spark):
    corpus = spark.createDataFrame(
        [(1, "known document text here")], "doc_id long, text string"
    ).select(dedup.fingerprint("text").alias("fp"))
    new = spark.createDataFrame(
        [
            (10, "known document text here"),   # already in corpus -> dropped
            (11, "a brand new document"),
            (12, "A brand NEW document!!"),      # dup of 11 within increment
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_increment(new, corpus).collect())
    assert kept == [11, 13]


def _checkpoint_rdds(ckpt):
    return len(glob.glob(str(ckpt / "*" / "rdd-*")))


def test_connected_components_reliable_checkpoint(spark, reliable_checkpoints):
    """With a checkpoint directory on the context, every lineage cut of the
    iterative operators and the SimHash chunk index is a reliable
    checkpoint written under it, and the rows equal the default
    ``localCheckpoint`` path's."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)] + [(100, 101)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 1), (2, 0, 1), (3, 2, 4), (4, 5, 1), (5, 3, 1)],
        "src long, dst long, w long",
    )
    # Pairs (2k, 2k+1) differ in one bit; the 4 of each sh value share
    # every chunk with each other.
    sh = spark.createDataFrame(
        [(i, (i // 4) * 0x0F0F0F0F0F0F + (i % 2)) for i in range(24)],
        "id long, sh long",
    )
    ops = [
        lambda: dedup.connected_components(chain, small_graph_rows=0),
        lambda: dedup.pagerank(nodes, edges, n_iter=3),
        lambda: dedup.hits(nodes, edges, n_iter=3),
        lambda: dedup.hamming_candidates(sh, max_hamming=3),
    ]
    # The chain needs a second round, so the loop runs at least two.
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iterations=1, small_graph_rows=0)
    local = [sorted(map(tuple, op().collect())) for op in ops]
    assert all(local)
    with reliable_checkpoints() as ckpt:
        for op, want in zip(ops, local):
            before = _checkpoint_rdds(ckpt)
            assert sorted(map(tuple, op().collect())) == want
            assert _checkpoint_rdds(ckpt) > before
