"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {bulk_encode,column_read}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``).  The line before it holds the run's details:
host facts, sample counts and the named per-workload figures.  The exit code
is 0 only when every operation passed its output check.

``--scale tiny`` shrinks every input for the self-test; ``--corrupt`` flips a
byte in one stored content page so the self-test can see a failure counted.

The process started with these arguments builds the C kernel, then
supervises the measuring process: it runs the measurement in a child,
adopts every process the run starts (it is a child subreaper), ends and
reaps all of them before it exits, on every path out, and stops the run with
a non-zero exit and no result line if it is not done ``RUN_DEADLINE_S``
seconds after the build or if it gets SIGTERM, SIGINT or SIGHUP.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ["parquet4seastar_spark/engine/encode_job.py", "__spark_entry__.py", "bench.py",
            "tools/check_oracles.py", "BENCHMARK.json"]
# set in the measuring child: the run's work directory
CHILD_ENV = "PERFBENCH_WORK"
# a run must end within 180 s of its start; this leaves time to clean up
RUN_DEADLINE_S = 165.0

SCALES = {
    # source-repo rows: ~1 KB of content each
    "full": dict(rows=50_000, codec_rows=8192, lookup_keys=8, query_data="sf0.1"),
    "tiny": dict(rows=3000, codec_rows=1000, lookup_keys=2, query_data="sf0.001"),
}
OP_KINDS = ["encode", "decode_content", "decode_lang", "lookup_hit", "lookup_miss"]


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -UsePerfData: the JVM would otherwise keep a perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the C kernel is compiled once per checkout and reused by later runs
    os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".bench_build")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _finite(v: float) -> float:
    return float(v) if math.isfinite(v) else 0.0


def _layer_metrics(h, wl, tracer, setup_spans: int) -> dict:
    out = wl.probes()
    out["session.get_spark_s"] = tracer.median_s("get_spark", None)
    out["generator.generate_source_repos_s"] = tracer.median_s("generate_source_repos", None)
    for kind in OP_KINDS:
        for field in ("jobs", "tasks", "shuffle_write_mb"):
            recs = h.timed(kind)
            out[f"spark.{field}.{kind}"] = float(statistics.median(getattr(r, field) for r in recs)) if recs else 0.0
    for layer, s in tracer.self_times().items():
        out[f"self_s.{layer}"] = s
    traced, untraced = wl.e2e(traced=True), wl.e2e(traced=False)
    for k in traced:
        out[f"overhead.{k}"] = traced[k] - untraced[k]
    out["overhead.setup_s"] = setup_spans * tracer.per_span_cost_s()
    return out


class _Stopped(Exception):
    pass


def _raise_stopped(signum, _frame):
    raise _Stopped(signum)


def supervise(args) -> int:
    """Build the kernel, run the measuring child, then end and reap every
    process the run started; returns the child's exit code, or non-zero if
    it was stopped."""
    from perfbench import procs

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    procs.become_subreaper()
    stop_signals = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    for s in stop_signals:
        signal.signal(s, _raise_stopped)
    code, child = 3, None
    try:
        from parquet4seastar_spark.codecs import _native

        # build step, outside set-up and the deadline: compile (or reuse) the C kernel
        _native.get_kernel()
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                                 env={**os.environ, CHILD_ENV: work}, preexec_fn=procs.die_with_parent)
        try:
            code = child.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: the run did not end within {RUN_DEADLINE_S:.0f} s; stopped", file=sys.stderr)
    except _Stopped as e:
        print(f"perfbench: stopped by signal {e.args[0]}", file=sys.stderr)
        code = 128 + e.args[0]
    finally:
        for s in stop_signals:
            signal.signal(s, signal.SIG_IGN)
        if child is not None and child.returncode is None:
            child.kill()
            child.wait()
        strays = procs.reap_tree(30.0)
        if strays:
            print(f"perfbench: ended leftover processes {strays}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_encode", "column_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if CHILD_ENV not in os.environ:
        return supervise(args)
    return measure(args, os.environ[CHILD_ENV])


def measure(args, work: str) -> int:
    """Set up, measure and print the result; runs in the supervised child."""
    import pyarrow
    import pyspark

    from parquet4seastar_spark.codecs import _native
    from parquet4seastar_spark.engine.session import get_spark
    from perfbench import procs
    from perfbench.harness import Harness
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    # the supervisor has built the kernel; this loads it
    kernel_loaded = _native.get_kernel() is not None
    cfg = {**SCALES[args.scale], "corrupt": args.corrupt}
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        steal0 = procs.steal_s()
        with tracer.span("get_spark", "engine.session"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]",
                              shuffle_partitions=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        h = Harness(spark, tracer, bool(args.trace))
        wl = WORKLOADS[args.workload](h, cfg, args.seed, work)
        wl.setup()
        setup_s = time.perf_counter() - t0
        setup_spans = len(tracer.spans)
        steal1 = procs.steal_s()
        h.timed_rounds(wl.schedule(), args.seconds, min_rounds=2 if args.trace else 1)
        steal2 = procs.steal_s()
        layer_values = _layer_metrics(h, wl, tracer, setup_spans) if args.trace else {}
        e2e = {**wl.e2e(), "setup_s": setup_s}
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            procs.stop_spark(spark)

    attempted, failed = h.attempted_failed()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        metrics = {m["name"]: {"value": _finite(layer_values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": _finite(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    walls: dict[str, list[float]] = {}
    for r in h.timed():
        walls.setdefault(r.kind, []).append(round(r.wall_s, 3))
    detail = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale, "trace": args.trace,
        "nproc": nproc, "loadavg": os.getloadavg(), "kernel_loaded": kernel_loaded,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "steal_s": {"setup": steal1 - steal0, "timed": steal2 - steal1},
        "op_failure_rate": failed / attempted, "walls_s": walls,
        "peak_rss_mb": e2e["peak_rss_mb"], "stored_ratio": e2e["stored_ratio"],
        **wl.details,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
