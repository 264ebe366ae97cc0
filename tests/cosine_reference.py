"""Brute-force numpy references for the cosine kernels in
``operators.similarity``: every pair scored one at a time, no blocking,
no cells, no Spark.

``semantic_join_reference`` keeps the operator's stated contract: an
unscorable candidate (zero norm or a NULL element) scores NaN and loses
to any real match; ties, including all-NaN rows, break to the lowest
right id. ``neardup_pairs_reference`` pairs rows of the same non-NULL
block with non-NULL ids, a zero-norm vector scoring 0 and a NaN score
never passing the threshold.

Scores are returned unrounded; ``assert_rounded`` checks a 4dp value
against one, so a summation-order difference of ~1e-16 cannot fail a
comparison on its own.
"""

from __future__ import annotations

import math

import numpy as np


def _vec(v) -> np.ndarray:
    return np.asarray([np.nan if x is None else x for x in v], dtype=np.float64)


def _cos(x: np.ndarray, y: np.ndarray) -> float:
    with np.errstate(divide="ignore", invalid="ignore"):
        return float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))


def semantic_join_reference(left, right) -> dict:
    """``{left id: (right id, unrounded cosine)}`` for (id, vector) rows."""
    right = sorted(right, key=lambda r: r[0])
    out = {}
    for lid, lv in left:
        x = _vec(lv)
        best = None
        for rid, rv in right:
            s = _cos(x, _vec(rv))
            if best is None or (
                not math.isnan(s) and (math.isnan(best[1]) or s > best[1])
            ):
                best = (rid, s)
        out[lid] = best
    return out


def neardup_pairs_reference(rows, threshold: float) -> dict:
    """``{(id_a, id_b): unrounded cosine}`` with ``id_a < id_b`` for
    (id, vector, block) rows."""
    unit = {}
    for rid, v, blk in rows:
        if rid is None or blk is None:
            continue
        x = _vec(v)
        n = np.linalg.norm(x)
        unit[rid] = (x / n if n != 0.0 else x, blk)
    out = {}
    for a, (xa, ba) in unit.items():
        for b, (xb, bb) in unit.items():
            if a < b and ba == bb:
                s = float(np.dot(xa, xb))
                if s >= threshold:
                    out[(a, b)] = s
    return out


def assert_rounded(got: float, want: float) -> None:
    """``got`` is ``want`` rounded to 4 decimals (NaN only for NaN)."""
    if math.isnan(want):
        assert math.isnan(got), (got, want)
    else:
        assert abs(got - want) <= 0.5e-4 + 1e-12, (got, want)
