"""The benchmark's workloads: one client, one Flight connection on
loopback, closed loop (the next call is sent when the previous answer
is back).

Inputs come from the reference's test generator: 1000-row gaussian
batches, each shifted by the shared offset ``10 * x[0]`` of its batch.
A query is a fresh draw from one batch's distribution, so no target
repeats and every query has near neighbours.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import checks

DIM = 256
K = checks.K
PROBES = 16
LABELS = 8
FILTER_LABEL = 3
CODING = {"codebook_size": 8, "num_codebooks": 2}
TABLE, COLUMN, CODER = "corpus", "embedding", "coding"


def reference_vectors(rng, n: int):
    """(vectors, per-batch offsets) from the reference test generator."""
    x = rng.standard_normal((n // 1000, 1000, DIM), dtype=np.float32)
    offsets = 10 * x[:, 0, :]
    return (x + offsets[:, None, :]).reshape(n, DIM), offsets


def fresh_targets(rng, offsets, n: int) -> np.ndarray:
    batch = rng.integers(len(offsets), size=n)
    return rng.standard_normal((n, DIM), dtype=np.float32) + offsets[batch]


@dataclass
class Op:
    """One timed call. ``targets`` answered per call: 1 for a point
    search, the batch size for a batch call."""

    kind: str
    targets: np.ndarray
    t0: float = 0.0
    t1: float = 0.0
    result: pa.Table | None = None
    error: str | None = None
    failed: list = field(default_factory=list)  # per target: reason or None


@dataclass
class Corpus:
    vectors: np.ndarray
    ids: np.ndarray
    labels: np.ndarray

    def table(self) -> pa.Table:
        flat = pa.array(self.vectors.ravel())
        return pa.table({
            "vec_id": pa.array(self.ids),
            "label": pa.array(self.labels),
            COLUMN: pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32())),
        })


class Workload:
    """Set-up, warm-up, the timed loop and the checks of one workload."""

    rows: int
    CORPUS_SEED: int | None = None  # None: --seed draws the corpus too
    WARMUP_ROUNDS = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.ops: list[Op] = []
        self.extra_checks: list[str | None] = []  # checks that are not ops
        self.scan_fractions: list[float] = []
        self.recalls: list[float] = []

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        rng = self.rng if self.CORPUS_SEED is None else np.random.default_rng(self.CORPUS_SEED)
        vectors, self.offsets = reference_vectors(rng, self.rows)
        self.corpus = Corpus(
            vectors, np.arange(self.rows, dtype=np.int64),
            rng.integers(0, LABELS, self.rows, dtype=np.int64),
        )
        self.ctx.client.make_table(TABLE, self.corpus.table())
        self.ctx.client.make_index(CODER, TABLE, COLUMN, CODING)

    def warmup(self) -> None:
        """Untimed rounds of the workload's own calls: the first calls
        run slower while the JVM compiles the path."""
        for _ in range(self.WARMUP_ROUNDS):
            for op in self.next_ops():
                self.call(op)

    def run(self) -> None:
        """Timed closed loop until ``seconds`` have passed; the call in
        flight at the deadline completes and counts."""
        ctx = self.ctx
        ctx.window_start = time.perf_counter()
        deadline = ctx.window_start + ctx.seconds
        while time.perf_counter() < deadline:
            for op in self.next_ops():
                op.t0 = time.perf_counter()
                with ctx.tracer.op(len(self.ops)):
                    try:
                        op.result = self.call(op)
                    except Exception as exc:  # noqa: BLE001 - a failed op is a result
                        op.error = f"{type(exc).__name__}: {exc}"
                op.t1 = time.perf_counter()
                self.ops.append(op)
        ctx.window_end = time.perf_counter()

    def search(self, targets, kind: str, select=None) -> pa.Table:
        kw = {"id_col": "vec_id", "maxval": K, "select": select}
        if kind != "brute":
            kw.update(coding=CODER, probes=PROBES)
        if kind == "ivf_label":
            kw["filter"] = f"label = {FILTER_LABEL}"
        return self.ctx.client.search(targets.tolist(), TABLE, COLUMN, **kw)

    # ------------------------------------------------------------ checks

    def load_cells(self) -> None:
        """The index's cell of every row and the coding, read straight
        from the store after the timed window."""
        from fenix_spark import catalog
        from fenix_spark.operators.index import CODE_COL

        spark, root = self.ctx.spark, self.ctx.root
        cells = spark.read.parquet(catalog.index_path(root, TABLE, COLUMN, CODER)) \
            .select("vec_id", CODE_COL).toArrow()
        self.cell_of = np.empty(self.rows, dtype=np.int64)
        self.cell_of[cells.column("vec_id").to_numpy()] = cells.column(CODE_COL).to_numpy()
        self.coding = spark.read.parquet(catalog.coding_path(root, CODER))
        self.vectors64 = self.corpus.vectors.astype(np.float64)

    def expected(self, target, kind: str):
        """(exact answer the call must return, exact whole-corpus top-k
        for recall)."""
        from fenix_spark.operators.coder import rank_cells

        c = self.corpus
        d = checks.distances(self.vectors64, target)
        flt = c.labels == FILTER_LABEL if kind == "ivf_label" else None
        truth = checks.exact_topk(d, c.ids, flt)
        if kind == "brute":
            return truth, truth
        probed = np.isin(self.cell_of, rank_cells(self.coding, target, limit=PROBES))
        self.scan_fractions.append(probed.mean())
        mask = probed if flt is None else probed & flt
        return checks.exact_topk(d, c.ids, mask), truth

    def check_rows(self, target, kind, ids, dists, labels=None) -> str | None:
        want, truth = self.expected(target, kind)
        if kind != "brute":
            self.recalls.append(checks.overlap(ids, truth[0]))
        if labels is not None and kind == "ivf_label":
            bad = checks.check_filter(labels, FILTER_LABEL)
            if bad:
                return bad
        return checks.check_topk(ids, dists, *want)

    def check_lookups(self, n: int = 2) -> None:
        """Read after write: corpus vectors written in set-up must find
        themselves at rank 1, distance 0."""
        for i in self.rng.choice(self.rows, n, replace=False):
            res = self.search(self.corpus.vectors[i][None, :], "ivf", select=["vec_id"])
            self.extra_checks.append(checks.check_lookup(
                res.column("vec_id").to_numpy(), res.column("__DISTANCE__").to_numpy(),
                int(self.corpus.ids[i])))


class PointSearch(Workload):
    """One-target searches: 50% IVF (probes 16 of 64 cells), 25% brute
    force, 25% IVF with a ``label`` filter, in shuffled blocks of four."""

    rows = 20_000
    KINDS = ("ivf", "ivf", "brute", "ivf_label")
    WARMUP_ROUNDS = 3

    def next_ops(self):
        for kind in self.rng.permutation(self.KINDS):
            yield Op(str(kind), fresh_targets(self.rng, self.offsets, 1))

    def call(self, op: Op) -> pa.Table:
        return self.search(op.targets, op.kind, ["vec_id", "label"])

    def check(self) -> None:
        self.load_cells()
        for op in self.ops:
            if op.error:
                op.failed = [op.error]
                continue
            r = op.result
            op.failed = [self.check_rows(
                op.targets[0], op.kind, r.column("vec_id").to_numpy(),
                r.column("__DISTANCE__").to_numpy(), r.column("label").to_pylist())]
        self.check_lookups()


class BatchSearch(Workload):
    """Calls of 16 targets each, in rounds of two IVF calls (probes 16)
    and one brute-force call. With IVF two thirds of the calls, the
    median call is an IVF call; brute force shows in ``ops_per_s``.

    The corpus is fixed and ``--seed`` draws the targets. A 10k corpus
    holds only 10 generator batches, and how its 10 clusters fall into
    the 64 cells sets how many rows an IVF call scans: with the corpus
    drawn from the seed, the median call spread 15% over five seeds
    (4 cores, 2 GB heap), against 7% with one corpus.

    An IVF call's distance stage runs on all cores at once and keeps
    getting faster over the first few rounds. At 32 targets a call its
    run-to-run median spread 40% over four seeds; at 16 targets the
    stage is half the call, two warm-up rounds cost what one did, and
    the spread was 20% (4 vCPUs, interleaved runs)."""

    rows = 10_000
    CORPUS_SEED = 0
    BATCH = 16
    WARMUP_ROUNDS = 2
    SAME_CHECKS = 2  # calls per kind cross-checked against one-target calls
    KINDS = ("ivf", "ivf", "brute")

    def next_ops(self):
        for kind in self.KINDS:
            yield Op(kind, fresh_targets(self.rng, self.offsets, self.BATCH))

    def call(self, op: Op) -> pa.Table:
        return self.search(op.targets, op.kind)

    def check(self) -> None:
        self.load_cells()
        same: dict = {}
        for op in self.ops:
            if op.error:
                op.failed = [op.error] * len(op.targets)
                continue
            r = op.result.sort_by([("query_index", "ascending"), ("rank", "ascending")])
            q = r.column("query_index").to_numpy()
            ids, dists = r.column("vec_id").to_numpy(), r.column("__DISTANCE__").to_numpy()
            rows = [(ids[q == i], dists[q == i]) for i in range(len(op.targets))]
            op.failed = [self.check_rows(t, op.kind, *row) for t, row in zip(op.targets, rows)]
            # a sampled target of the first calls against the one-target path
            same[op.kind] = same.get(op.kind, 0) + 1
            if same[op.kind] > self.SAME_CHECKS:
                continue
            i = int(self.rng.integers(len(op.targets)))
            single = self.search(op.targets[i][None, :], op.kind, ["vec_id"])
            op.failed[i] = op.failed[i] or checks.check_same(
                *rows[i], single.column("vec_id").to_numpy(),
                single.column("__DISTANCE__").to_numpy())
        self.check_lookups()


WORKLOADS = {"point-search": PointSearch, "batch-search": BatchSearch}
