"""Bit-parity of the masked (BLAS-prefilter + exact-rescore) cell
assignment against the full sequential-fold reference — pure numpy, no
Spark session.

_cell_sims_masked exists so assignment is one GEMM instead of an
O(n x cells x dims) cumsum pass (round 11); these tests pin that its
argmax / stable-top-k decisions equal _cell_sims' exactly, including
tie and degenerate (zero-norm) geometry.
"""

import numpy as np
import pytest

from oracle_to_snowflake_etl_spark.operators.similarity import (
    _cell_sims,
    _cell_sims_masked,
    centroid_weights,
)


def _rand(n, d, seed):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, d))


def test_argmax_parity_random():
    C = np.array(centroid_weights(64, 64), dtype=np.float64)
    V = _rand(5000, 64, 7)
    full = np.argmax(_cell_sims(V, C), axis=1)
    fast = np.argmax(_cell_sims_masked(V, C, top=1), axis=1)
    assert (full == fast).all()


def test_topk_parity_random():
    C = np.array(centroid_weights(64, 64), dtype=np.float64)
    V = _rand(3000, 64, 11)
    for k in (1, 2, 4, 24):
        full = np.argsort(-_cell_sims(V, C), axis=1,
                          kind="stable")[:, :k]
        fast = np.argsort(-_cell_sims_masked(V, C, top=k), axis=1,
                          kind="stable")[:, :k]
        assert (full == fast).all(), k


def test_exact_scores_on_candidates():
    """Scores the masked path reports for its top-k candidates are
    BITWISE equal to the reference fold (not merely close)."""
    C = np.array(centroid_weights(32, 64), dtype=np.float64)
    V = _rand(500, 64, 13)
    ref = _cell_sims(V, C)
    got = _cell_sims_masked(V, C, top=4)
    order = np.argsort(-got, axis=1, kind="stable")[:, :4]
    r = np.arange(len(V))[:, None]
    assert (got[r, order] == ref[r, order]).all()


def test_tie_geometry():
    """Duplicate centroids force exact score ties: the stable ordering
    must pick the LOWER cell index, same as the full matrix."""
    C = np.array(centroid_weights(8, 16), dtype=np.float64)
    C[5] = C[2]  # exact duplicate -> guaranteed ties
    V = _rand(200, 16, 17)
    full = np.argsort(-_cell_sims(V, C), axis=1, kind="stable")[:, :3]
    fast = np.argsort(-_cell_sims_masked(V, C, top=3), axis=1,
                      kind="stable")[:, :3]
    assert (full == fast).all()


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_zero_norm_vector_row():
    """A zero vector yields an all-NaN reference row (argmax 0); the
    masked path's degenerate fallback must agree."""
    C = np.array(centroid_weights(8, 16), dtype=np.float64)
    V = _rand(10, 16, 19)
    V[3] = 0.0
    full = np.argmax(_cell_sims(V, C), axis=1)
    fast = np.argmax(_cell_sims_masked(V, C, top=1), axis=1)
    assert (full == fast).all()


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_zero_norm_centroid_column():
    """A zero CENTROID makes one column NaN for every row — np.argmax
    returns the first NaN index on the reference; the fallback path
    must reproduce that, not mask it away."""
    C = np.array(centroid_weights(8, 16), dtype=np.float64)
    C[4] = 0.0
    V = _rand(10, 16, 23)
    full = np.argmax(_cell_sims(V, C), axis=1)
    fast = np.argmax(_cell_sims_masked(V, C, top=1), axis=1)
    assert (full == fast).all()


def test_clustered_near_tie_stress():
    """Vectors built CLOSE to centroid bisectors — the regime where a
    prefilter that admitted too few candidates would flip argmax."""
    C = np.array(centroid_weights(16, 32), dtype=np.float64)
    rng = np.random.default_rng(29)
    mids = []
    for _ in range(2000):
        i, j = rng.choice(16, size=2, replace=False)
        w = rng.uniform(0.49, 0.51)
        mids.append(w * C[i] / np.linalg.norm(C[i])
                    + (1 - w) * C[j] / np.linalg.norm(C[j]))
    V = np.array(mids)
    full = np.argsort(-_cell_sims(V, C), axis=1, kind="stable")[:, :2]
    fast = np.argsort(-_cell_sims_masked(V, C, top=2), axis=1,
                      kind="stable")[:, :2]
    assert (full == fast).all()
