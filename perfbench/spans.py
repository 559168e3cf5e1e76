"""Layer spans for traced benchmark runs.

Spans are recorded from this file, around the calls into each layer's
public functions: the program itself is not edited. ``instrument``
rebinds the functions (and every ``from x import f`` alias of them
inside ``fenix_spark``) to wrappers that open a span. Spans are kept in
memory; ``write_trace`` dumps them with the Spark jobs and stages of the
run once the benchmark ends.

A span is ``{id, parent, op, layer, name, t0, t1, thread}`` with wall
clock seconds (``time.time``), the clock the JVM stamps jobs with.
Every span opened while an op is in flight carries that op's id. The
Flight server answers on gRPC threads, so a span opened on a thread
with no open span of its own is parented to the innermost open span of
the op's client thread (the ``Client.*`` call waiting for it).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import sys
import threading
import time

# (layer, module, functions) — module-level public functions
FUNCTIONS = [
    ("catalog", "fenix_spark.catalog", ["load", "make", "drop", "list_tables"]),
    ("manifest", "fenix_spark.manifest", ["begin", "commit", "vacuum", "resolve"]),
    ("operators.coder", "fenix_spark.operators.coder",
     ["train_coding", "rank_cells", "coding_to_numpy"]),
    ("operators.index", "fenix_spark.operators.index",
     ["build_index", "probe_search", "batch_probe_search"]),
    ("operators.search", "fenix_spark.operators.search", ["knn", "batch_knn_brute"]),
]
# (layer, module, class, methods)
METHODS = [
    ("store", "fenix_spark.store", "Store",
     ["make_table", "read_table", "read_coder", "make_coder", "make_index", "search"]),
    ("flight", "fenix_spark.flight", "Server",
     ["_do_put", "_do_get", "_do_exchange", "_do_action"]),
    ("flight", "fenix_spark.flight", "Client",
     ["make_table", "make_index", "sync_index", "search", "read_table"]),
]
# Spark calls that plan and run jobs, or read files on the driver
SPARK = [
    ("pyspark.sql.classic.dataframe", "DataFrame",
     ["toArrow", "collect", "count", "toPandas"]),
    ("pyspark.sql.readwriter", "DataFrameWriter", ["parquet"]),
    ("pyspark.sql.readwriter", "DataFrameReader", ["parquet"]),
    ("pyspark.sql.session", "SparkSession", ["createDataFrame"]),
]


class NullTracer:
    """Untraced runs: the same interface, recording nothing."""

    enabled = False

    @contextlib.contextmanager
    def op(self, op_id):
        yield

    def span(self, layer, name):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op = None  # (op id, the op thread's open-span stack)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, op_id):
        """Root span of one benchmark op; spans opened until it closes,
        on any thread, belong to it."""
        self._op = (op_id, self._stack())
        try:
            with self.span("bench", "op"):
                yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, layer, name):
        st = self._stack()
        op = self._op
        if st:
            parent = st[-1]
        else:
            parent = None
            if op is not None and op[1] is not st:
                try:
                    parent = op[1][-1]
                except IndexError:  # the client call closed meanwhile
                    pass
        sid = next(self._ids)
        t0 = time.time()
        st.append(sid)
        try:
            yield
        finally:
            st.pop()
            self.spans.append({
                "id": sid, "parent": parent, "op": op[0] if op else None,
                "layer": layer, "name": name, "t0": t0, "t1": time.time(),
                "thread": threading.get_ident(),
            })


def _wrap(tracer, fn, layer, name):
    if inspect.isgeneratorfunction(fn):
        @functools.wraps(fn)
        def gen_wrapper(*a, **kw):
            with tracer.span(layer, name):
                yield from fn(*a, **kw)
        return gen_wrapper

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(layer, name):
            return fn(*a, **kw)
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Rebind every listed function to a span-recording wrapper."""
    import importlib

    for layer, modname, names in FUNCTIONS:
        mod = importlib.import_module(modname)
        for name in names:
            orig = getattr(mod, name)
            wrapped = _wrap(tracer, orig, layer, name)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("fenix_spark"):
                    for attr, val in list(vars(other).items()):
                        if val is orig:
                            setattr(other, attr, wrapped)
    for layer, modname, clsname, names in METHODS:
        cls = getattr(importlib.import_module(modname), clsname)
        for name in names:
            setattr(cls, name, _wrap(tracer, getattr(cls, name), layer, f"{clsname}.{name}"))
    for modname, clsname, names in SPARK:
        cls = getattr(importlib.import_module(modname), clsname)
        for name in names:
            setattr(cls, name, _wrap(tracer, getattr(cls, name), "spark", f"{clsname}.{name}"))


# ------------------------------------------------------------ Spark jobs


def spark_jobs(spark) -> list[dict]:
    """Every job the status store holds, with its completed stages'
    task metrics. Read after the timed window (py4j calls are slow)."""
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {}
    seq = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False, gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.status().toString() != "COMPLETE":
            continue  # skipped stages reused a shuffle and did no work
        stages[s.stageId()] = {
            "task_ms": int(s.executorRunTime()),
            "input_bytes": int(s.inputBytes()),
            "input_rows": int(s.inputRecords()),
            "output_bytes": int(s.outputBytes()),
            "shuffle_bytes": int(s.shuffleWriteBytes()),
        }
    jobs = []
    seq = store.jobsList(gw.jvm.java.util.ArrayList())
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        ids = j.stageIds()
        jstages = [stages[sid] for sid in (ids.apply(k) for k in range(ids.size()))
                   if sid in stages]
        jobs.append({
            "job_id": int(j.jobId()),
            "t0": sub.get().getTime() / 1000.0,
            "t1": done.get().getTime() / 1000.0,
            "stages": jstages,
        })
    return jobs


# --------------------------------------------------------- aggregation


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _measure(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def _intersect(xs, ys) -> float:
    """Length of (union xs) ∩ (union ys)."""
    xs, ys = _union(xs), _union(ys)
    total, i, j = 0.0, 0, 0
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        total += max(0.0, hi - lo)
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


# read path: mean wall per call over the timed ops
READ_CALLS = {
    "catalog.load_ms": ("catalog", "load"),
    "operators.coder.rank_cells_ms": ("operators.coder", "rank_cells"),
    "operators.search.knn_build_ms": ("operators.search", "knn"),
    "operators.index.probe_search_build_ms": ("operators.index", "probe_search"),
    "operators.index.batch_probe_search_build_ms": ("operators.index", "batch_probe_search"),
    "operators.search.batch_knn_brute_build_ms": ("operators.search", "batch_knn_brute"),
}
# write path: mean wall per call over the whole run (set-up included)
WRITE_CALLS = {
    "flight.put_ms": ("flight", "Client.make_table"),
    "operators.coder.train_coding_ms": ("operators.coder", "train_coding"),
    "operators.index.build_index_ms": ("operators.index", "build_index"),
}


def layer_metrics(spans, jobs, timed_ops) -> dict:
    """Per-layer metrics of a traced run. ``timed_ops``: [(op id,
    answered targets)] of the ops in the timed window. Values that are
    "per op" divide by answered targets, so a batch call of 32 targets
    is 32 ops, as in ``ops_per_s``."""
    by_op: dict = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    n_ops = sum(n for _, n in timed_ops) or 1
    out: dict = {}
    for metric, (layer, name) in READ_CALLS.items():
        durs = [s["t1"] - s["t0"] for op, _ in timed_ops for s in by_op.get(op, [])
                if s["layer"] == layer and s["name"] == name]
        out[metric] = 1000 * sum(durs) / len(durs) if durs else 0.0
    for metric, (layer, name) in WRITE_CALLS.items():
        durs = [s["t1"] - s["t0"] for s in spans if s["layer"] == layer and s["name"] == name]
        out[metric] = 1000 * sum(durs) / len(durs) if durs else 0.0

    tot = dict.fromkeys(("plan", "exec", "task", "input", "rows", "shuffle", "jobs", "stages",
                         "overhead"), 0.0)
    batch_exec: dict = {"batch_probe_search": [], "batch_knn_brute": []}
    reconcile_err = 0.0
    for op, _ in timed_ops:
        ss = by_op.get(op, [])
        root = next(s for s in ss if s["layer"] == "bench")
        lo, hi = root["t0"], root["t1"]
        wall = hi - lo
        ojobs = [j for j in jobs if lo <= j["t0"] <= hi]
        job_iv = _clip([(j["t0"], j["t1"]) for j in ojobs], lo, hi)
        spark_iv = [(s["t0"], s["t1"]) for s in ss if s["layer"] == "spark"]
        tot["exec"] += _measure(job_iv)
        tot["plan"] += _measure(spark_iv) - _intersect(spark_iv, job_iv)
        tot["jobs"] += len(ojobs)
        for j in ojobs:
            tot["stages"] += len(j["stages"])
            for st in j["stages"]:
                tot["task"] += st["task_ms"] / 1000
                tot["input"] += st["input_bytes"]
                tot["rows"] += st["input_rows"]
                tot["shuffle"] += st["shuffle_bytes"]
        inner = [(s["t0"], s["t1"]) for s in ss if s["layer"] not in ("bench", "flight")]
        tot["overhead"] += wall - _measure(_clip(inner, lo, hi))
        for fn, acc in batch_exec.items():
            if any(s["name"] == fn for s in ss):
                acc.append(_measure(spark_iv))
        # self times must add up to the wall: a gap or a double count
        # means a span was lost or mis-parented
        kids: dict = {}
        for s in ss:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        self_sum = sum(
            (s["t1"] - s["t0"]) - _measure(_clip(kids.get(s["id"], []), s["t0"], s["t1"]))
            for s in ss
        )
        if wall > 0:
            reconcile_err = max(reconcile_err, abs(self_sum - wall) / wall)
    out.update({
        "spark.plan_ms": 1000 * tot["plan"] / n_ops,
        "spark.exec_ms": 1000 * tot["exec"] / n_ops,
        "spark.task_ms": 1000 * tot["task"] / n_ops,
        "spark.input_bytes": tot["input"] / n_ops,
        "spark.input_rows": tot["rows"] / n_ops,
        "spark.shuffle_bytes": tot["shuffle"] / n_ops,
        "spark.jobs": tot["jobs"] / n_ops,
        "spark.stages": tot["stages"] / n_ops,
        "flight.overhead_ms": 1000 * tot["overhead"] / n_ops,
        "operators.index.batch_probe_search_exec_ms":
            1000 * sum(batch_exec["batch_probe_search"]) / max(1, len(batch_exec["batch_probe_search"])),
        "operators.search.batch_knn_brute_exec_ms":
            1000 * sum(batch_exec["batch_knn_brute"]) / max(1, len(batch_exec["batch_knn_brute"])),
        "trace.reconcile_err": reconcile_err,
    })
    puts = sum(1 for s in spans if s["name"] == "Client.make_table") or 1
    out["spark.output_bytes"] = sum(
        st["output_bytes"] for j in jobs for st in j["stages"]) / puts
    return out


def write_trace(path: str, spans, jobs, extra: dict) -> None:
    with open(path, "w") as fh:
        json.dump({**extra, "spans": spans, "jobs": jobs}, fh)
