"""Benchmark entry point: one workload, one seed, one measured phase.

    python3 perfbench/run.py --workload graph_query --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The package is driven through its public
functions on ``local[nproc]``; inputs are generated from ``--seed`` under a
per-run temporary root inside the checkout, removed on exit.  Every output
is checked (see each workload module); the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics from the traced run, and the
spans are also written to ``.perfbench_out/``.  Metric names and units are
read from ``BENCHMARK.json`` in the checkout root.

Exits with code 2, printing no result, when the package is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "hannigan_conjunctisviribus_ploscompbio_2017_spark"
WORKLOADS = ("graph_query", "corpus_ingest")
DRIVER_HEAP = "1g"

def pin_deployment(root: str, tmp: str) -> dict:
    """Environment every run uses; returned so the output records it."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the package defaults to a 48g driver heap, far above a 15 GB
        # box; 1g holds every workload here
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        # Python workers (pandas UDFs) import the package too
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={tmp}/warehouse"),
            "pyspark-shell",
        ]),
        # read by every JVM the launch starts, the launcher's included, so
        # nothing they write lands outside the run root
        "JAVA_TOOL_OPTIONS": (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/java "
                              f"-Dderby.system.home={tmp}/derby"),
        "TMPDIR": os.path.join(tmp, "py"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"], os.path.join(tmp, "java")):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = env["TMPDIR"]
    return env


class Ctx:
    """What a workload gets: its seed, scale, temp root, tracer, session."""

    def __init__(self, tmp, seed, smoke, tracer, corrupt_oracle):
        self.tmp = tmp
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.corrupt_oracle = corrupt_oracle
        self.spark = None
        self.get_spark_s = 0.0
        self.failures: list[str] = []
        self.setup_checks = 0  # checked operations outside the measured loop

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def span(self, name, trace_id=None):
        return self.tracer.span(name, trace_id)

    def boundary(self, df):
        """In the traced run, materialize a lazy layer output where the
        layer returns it, so the layer's span covers its own execution.
        The end-to-end run leaves the plan lazy (and fused)."""
        return df.localCheckpoint(eager=True) if self.tracing else df

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def start_spark(self):
        from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.tracer.attach(self.spark)
        self.get_spark_s = time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate to a kill, then wait
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    vals = sorted(values)
    if len(vals) == 1:
        return float(vals[0])
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))


def trace_metrics(tracer, res, get_spark_s: float) -> dict:
    """Tracing overhead and attribution for the traced run.  Traced and
    untraced operations alternate, so the overhead compares the two
    halves' median latencies; the unattributed share is the part of the
    traced operations' wall time no layer span covers."""
    ops = [s for s in tracer.roots if s.name.startswith("op.")]
    untraced = res["latencies"] if res["traced_latencies"] else []
    overhead = 0.0
    if untraced and res["traced_latencies"]:
        overhead = (statistics.median(res["traced_latencies"])
                    / statistics.median(untraced) - 1.0)
    total = sum(s.dur for s in ops)
    return {
        "session.get_spark_s": get_spark_s,
        "trace.overhead_share": overhead,
        "trace.unattributed_share": sum(s.self_time() for s in ops) / total if total else 0.0,
        "trace.spans": len(tracer.spans()),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs (the smoke test's scale)")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="perturb one expected value; the run must report it")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "session.py")):
        print(f"perfbench: package {PKG}/ not found under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    import importlib

    from spans import MemSampler, Tracer

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}
    wl = importlib.import_module(f"wl_{args.workload}")
    tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        env = pin_deployment(root, tmp)
        tracer = Tracer(bool(args.trace))
        ctx = Ctx(tmp, args.seed, args.smoke, tracer, args.corrupt_oracle)
        try:
            t0 = time.perf_counter()
            state = wl.setup(ctx)
            setup_s = time.perf_counter() - t0
            # untimed: the same loop as the measured phase, so the JIT has
            # settled before it starts
            wl.warmup(ctx, state)
            jvm_pid = ctx.spark.sparkContext._jvm.ProcessHandle.current().pid()
            with MemSampler(ctx.spark, int(jvm_pid)) as mem:
                res = wl.run(ctx, state, args.seconds)
            layer = {}
            if args.trace:
                layer = wl.layer_metrics(ctx, state, res)
                layer.update(trace_metrics(tracer, res, ctx.get_spark_s))
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    lat = res["latencies"] or [0.0]  # every operation failed: correct is false
    e2e = {
        "setup_s": setup_s,
        "peak_mem_mb": mem.peak_mb,
        "op_p50_s": statistics.median(lat),
        "throughput_per_s": res["items"] / res["wall_s"] if res["wall_s"] else 0.0,
    }
    attempted = res["attempted"] + ctx.setup_checks
    failed = len(ctx.failures)
    # the tail percentile is printed, not gated: a run holds too few
    # operations for ten samples beyond any tail percentile
    p90 = percentile(lat, 90)
    beyond = sum(1 for v in lat if v > p90)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"deployment={json.dumps(env, sort_keys=True)}")
    print(f"# error_rate={failed / attempted:.6f} ({failed} of {attempted} checked operations)")
    for name, alias in wl.ALIASES.items():
        print(f"# {alias} = {e2e[name]:.6g} {units['end_to_end'][name]}")
    print(f"# peak_rss_mb = {mem.peak_rss_mb:.6g} MB (driver JVM + Python; not gated)")
    print(f"# {wl.TAIL} = {p90:.6g} s ({wl.OP_NAME}: n={len(lat)}, {beyond} beyond p90; "
          "fewer than 10 beyond makes it indicative only)")
    # part of setup_s; printed, not gated: one cold build per run is too
    # noisy to bound on its own
    print(f"# {wl.STORE_READY} = {state['store_ready_s']:.6g} s")
    print("# latencies_s=" + json.dumps([round(v, 3) for v in res["latencies"]]))
    if args.trace:
        out = os.path.join(root, ".perfbench_out",
                           f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(out, {"workload": args.workload, "seed": args.seed,
                          "end_to_end_traced": e2e, "per_layer": layer})
        print(f"# spans written to {os.path.relpath(out, root)}")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units["end_to_end"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
