"""Vector-search benchmark of the fenix_spark Flight server.

    python3 perfbench/run.py --workload point-search --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table

Run from the root of a checkout. Each run starts a Spark session on
``local[nproc]``, an in-process Flight server and one client on
loopback, builds the workload's store through the client, warms up,
then runs the closed loop for ``--seconds`` and checks every answer
against numpy. The last line of standard output is the result JSON;
the exit code is 1 when any check failed. ``--trace 1`` records layer
spans and reports per-layer metrics instead of end-to-end ones; see
perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.dont_write_bytecode = True  # a run leaves no .pyc in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")  # traces, results, per-run scratch
DRIVER_MEM = "2g"  # the JVM heap, fixed in size (-Xms); the default 24g exceeds small hosts


class Context:
    """What a workload needs: the session, the client and the run's
    parameters."""

    def __init__(self, args, spark, client, root, tracer):
        self.seed, self.seconds = args.seed, args.seconds
        self.spark, self.client, self.root, self.tracer = spark, client, root, tracer
        self.window_start = self.window_end = 0.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Pin the Spark environment and keep every file the run writes
    inside ``work``."""
    import system

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm_files = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(system.nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LAUNCHER_OPTS": jvm_files,  # the JVM spark-submit starts first
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options '{jvm_files} -Xms{DRIVER_MEM}'",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = tmp


def end_to_end(wl, ctx, peak_rss: int, setup_s: float) -> dict:
    ok_ops = [op for op in wl.ops if not op.error]
    lat = [1000 * (op.t1 - op.t0) for op in ok_ops for _ in op.targets]
    answered = sum(len(op.targets) for op in ok_ops)
    return {
        "setup_s": setup_s,
        "ops_per_s": answered / (ctx.window_end - ctx.window_start),
        # 0 only when every op failed, and then the run is not correct
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "recall_at_10": statistics.fmean(wl.recalls) if wl.recalls else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }


def run_one(args) -> int:
    import system

    if not os.path.isfile(os.path.join(ROOT, "fenix_spark", "__init__.py")):
        print(f"perfbench: no fenix_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    before = system.tree_snapshot(ROOT, STATE)
    prepare_environment(work)
    import selftest

    selftest.run()  # raises when a check accepts a corrupted result
    load_start = system.loadavg()
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from spans import NullTracer, Tracer, instrument, layer_metrics, spark_jobs, write_trace

    spark = server = client = gateway = None
    try:
        with system.PeakRSS() as rss:
            import fenix_spark
            from fenix_spark.flight import Client, Server
            from fenix_spark.session import ensure_package_shipped, get_session

            if not os.path.abspath(fenix_spark.__file__).startswith(ROOT + os.sep):
                print("perfbench: fenix_spark imported from outside the checkout",
                      file=sys.stderr)
                return 2
            tracer = Tracer() if args.trace else NullTracer()
            if args.trace:
                instrument(tracer)
            spark = get_session("perfbench")
            gateway = spark.sparkContext._gateway
            spark.sparkContext.setLogLevel("ERROR")
            ensure_package_shipped(spark)
            root = os.path.join(work, "store")
            server = Server(spark, root, port=0)
            client = Client(port=server.port)
            ctx = Context(args, spark, client, root, tracer)
            wl = workloads.WORKLOADS[args.workload](ctx)
            wl.setup()
            wl.warmup()
            wl.run()
            setup_s = ctx.window_start - T_START
            wl.check()
            if args.trace:
                jobs = spark_jobs(spark)
                layers = layer_metrics(
                    tracer.spans, jobs,
                    [(i, len(op.targets)) for i, op in enumerate(wl.ops) if not op.error])
                layers["operators.index.scan_fraction"] = (
                    statistics.fmean(wl.scan_fractions) if wl.scan_fractions else 0.0)
                layers["manifest.generations_on_disk"] = generations(root)
        metrics = end_to_end(wl, ctx, rss.peak, setup_s)
    finally:
        leftover = shutdown(spark, server, client, gateway)
        shutil.rmtree(work, ignore_errors=True)
    after = system.tree_snapshot(ROOT, STATE)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    wl.extra_checks.append(f"run changed {changed[:5]} in the checkout" if changed else None)
    wl.extra_checks.append(f"processes left running: {sorted(leftover)}" if leftover else None)

    failures = [f for op in wl.ops for f in op.failed if f] + [f for f in wl.extra_checks if f]
    attempted = sum(len(op.targets) for op in wl.ops) + len(wl.extra_checks)
    for f in failures[:20]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ops": len(wl.ops),
        **system.environment(ROOT),
        "loadavg_start": load_start, "loadavg_end": system.loadavg(),
        "end_to_end": metrics, "failures": failures,
        "op_latency_ms": [[op.kind, round(1000 * (op.t1 - op.t0), 3)] for op in wl.ops],
    }
    if args.trace:
        record["per_layer"] = layers
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        write_trace(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"),
                    tracer.spans, jobs,
                    {"ops": [{"op": i, "kind": op.kind, "targets": len(op.targets)}
                             for i, op in enumerate(wl.ops)]})
    # BENCHMARK.json names the metrics each mode reports, with their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else metrics
    if {m["name"] for m in declared} != set(values):
        raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json")
    shown = {m["name"]: (values[m["name"]], m["unit"]) for m in declared}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(
            STATE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
            "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in
                      ("nproc", "spark_version", "git_commit", "blas_env",
                       "loadavg_start", "loadavg_end")}))
    for k, (v, unit) in shown.items():
        print(f"{args.workload:14s} {k:45s} {v:14.4f} {unit}")
    correct = not failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in shown.items()},
    }))
    return 0 if correct else 1


def generations(root: str) -> int:
    """Manifest generation directories left on disk across tables."""
    base = os.path.join(root, "sources")
    return sum(
        e.startswith("_gen-")
        for t in os.listdir(base)
        for e in os.listdir(os.path.join(base, t))
    )


def shutdown(spark, server, client, gateway) -> set[int]:
    """Stop the client, server, Spark and the JVM, and wait for every
    process the run started to end. Returns the pids still alive."""
    import system

    for closer in (client and client.close, server and server.shutdown,
                   spark and spark.stop, gateway and gateway.shutdown):
        if closer:
            closer()
    started = system.descendants(os.getpid())
    if gateway is not None:
        gateway.proc.stdin.close()  # the JVM exits at end of input
        gateway.proc.wait(timeout=60)
    left = system.wait_gone(started, timeout=30)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return left


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    import workloads

    worst = 0
    for name in workloads.WORKLOADS:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=ROOT,
        )
        lines = out.stdout.strip().splitlines()
        print("\n".join(line for line in lines[:-1] if line.startswith(name)))
        if out.returncode:
            sys.stderr.write(out.stderr[-4000:])
            print(f"{name}: exit code {out.returncode}")
        worst = max(worst, out.returncode)
    return worst


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
