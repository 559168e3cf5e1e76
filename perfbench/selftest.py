"""Self-test of the correctness checks: each check must accept a right
answer and reject the same answer with one corruption (a swapped id, a
stale row, a row outside the filter, a drifted distance, a batch row
that differs from its one-target call, a lookup that misses itself).

Runs at the start of every benchmark run (numpy only, milliseconds) and
on its own: ``python3 perfbench/selftest.py``.
"""

from __future__ import annotations

import numpy as np

import checks


def run() -> None:
    rng = np.random.default_rng(0)
    vectors = rng.standard_normal((500, 16))
    ids = np.arange(1000, 1500)
    labels = rng.integers(0, 4, 500)
    target = rng.standard_normal(16)
    d = checks.distances(vectors, target)
    want_ids, want_d = checks.exact_topk(d, ids)
    cases = []

    def expect(name, ok, bad):
        cases.append((name, ok is None, bad is not None))

    swapped = want_ids.copy()
    swapped[[2, 3]] = swapped[[3, 2]]
    expect("swapped id", checks.check_topk(want_ids, want_d, want_ids, want_d),
           checks.check_topk(swapped, want_d, want_ids, want_d))
    stale = want_ids.copy()
    stale[-1] = 999  # a row that is not in the corpus any more
    expect("stale row", None, checks.check_topk(stale, want_d, want_ids, want_d))
    drift = want_d.copy()
    drift[0] *= 1 + 1e-6
    expect("drifted distance", None, checks.check_topk(want_ids, drift, want_ids, want_d))
    expect("missing row", None, checks.check_topk(want_ids[:-1], want_d[:-1], want_ids, want_d))

    # a mask (cells probed, filter) changes the answer; the unmasked
    # top-k must fail against it
    mask = labels == 1
    m_ids, m_d = checks.exact_topk(d, ids, mask)
    expect("ignored mask", checks.check_topk(m_ids, m_d, m_ids, m_d),
           checks.check_topk(want_ids, want_d, m_ids, m_d))

    expect("row outside filter", checks.check_filter([1, 1, 1], 1),
           checks.check_filter([1, 2, 1], 1))
    expect("batch differs", checks.check_same(want_ids, want_d, want_ids, want_d),
           checks.check_same(swapped, want_d, want_ids, want_d))
    expect("lookup misses itself", checks.check_lookup(want_ids, np.r_[0.0, want_d[1:]],
                                                       want_ids[0]),
           checks.check_lookup(want_ids, want_d, want_ids[1]))
    expect("lookup at non-zero distance", None,
           checks.check_lookup(want_ids, np.r_[1e-12, want_d[1:]], want_ids[0]))
    cases.append(("recall", checks.overlap(want_ids, want_ids) == 1.0,
                  checks.overlap(stale, want_ids) == 0.9))

    broken = [name for name, ok, bad in cases if not (ok and bad)]
    if broken:
        raise RuntimeError(f"perfbench self-test: checks broken: {broken}")


if __name__ == "__main__":
    run()
    print("perfbench self-test: every check rejects its corrupted result")
