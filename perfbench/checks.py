"""Correctness checks, run on recorded results after the timed window.

Each check returns ``None`` when the result is right and a one-line
reason when it is not. Expected answers come from numpy over the
benchmark's own copy of the inputs, in float64, ties broken by id.
Distances are compared with a relative tolerance of 1e-9: Spark folds
the squared differences in another order (or, in the batch brute-force
path, through a GEMM), so the last digits differ; ids and their order
must match exactly.
"""

from __future__ import annotations

import numpy as np

K = 10
RTOL = 1e-9


def distances(vectors64: np.ndarray, target) -> np.ndarray:
    """Exact L2 distances of every row of a float64 matrix to ``target``."""
    diff = vectors64 - np.asarray(target, dtype=np.float64)
    return np.sqrt(np.einsum("ij,ij->i", diff, diff))


def exact_topk(dists: np.ndarray, ids: np.ndarray, mask=None, k: int = K):
    """Top-``k`` of precomputed distances over the rows where ``mask``
    holds, ordered by (distance, id). Returns (ids, distances)."""
    if mask is not None:
        dists, ids = dists[mask], ids[mask]
    order = np.lexsort((ids, dists))[:k]
    return ids[order], dists[order]


def check_topk(got_ids, got_dists, want_ids, want_dists):
    got_ids = np.asarray(got_ids)
    if len(got_ids) != len(want_ids):
        return f"{len(got_ids)} rows, expected {len(want_ids)}"
    if not np.array_equal(got_ids, want_ids):
        bad = int(np.argmax(got_ids != want_ids))
        return f"rank {bad + 1}: id {got_ids[bad]}, expected {want_ids[bad]}"
    if not np.allclose(got_dists, want_dists, rtol=RTOL, atol=RTOL):
        return "distances differ from the exact ones"
    return None


def check_filter(values, want) -> str | None:
    bad = [v for v in values if v != want]
    return f"{len(bad)} rows fail the filter (= {want})" if bad else None


def check_same(batch_ids, batch_dists, single_ids, single_dists) -> str | None:
    """A batch row against the one-target call for the same target."""
    if not np.array_equal(np.asarray(batch_ids), np.asarray(single_ids)):
        return "batch ids differ from the one-target call"
    if not np.allclose(batch_dists, single_dists, rtol=RTOL, atol=RTOL):
        return "batch distances differ from the one-target call"
    return None


def check_lookup(got_ids, got_dists, own_id) -> str | None:
    """Read-after-write: a just-written vector finds itself first."""
    if len(got_ids) == 0 or got_ids[0] != own_id or got_dists[0] != 0.0:
        first = (got_ids[0], got_dists[0]) if len(got_ids) else None
        return f"lookup of id {own_id} returned {first} at rank 1"
    return None


def overlap(got_ids, want_ids) -> float:
    """Share of the exact top-k ids present in the result."""
    return len(set(np.asarray(got_ids).tolist()) & set(np.asarray(want_ids).tolist())) / len(want_ids)
