"""Engine benchmark: ``search`` and ``update_mix`` workloads.

Run from any working directory:

    python3 enginebench/run.py --workload search --seed 1 --seconds 10 --trace 0

It starts a local Spark session on every core (``local[nproc]``), makes the
workload's inputs from ``--seed``, measures for ``--seconds`` seconds and
checks every answer it samples. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the
run wraps every call into an engine layer in a span and reports the
per-layer ones instead. The line before it holds the run's context: host
conditions, the tail percentile and its sample count, and any failures.

The exit code is 0 only when every operation succeeded and every checked
answer was right. All files go under ``.bench_work/`` in the checkout and are
removed at the end, except the spans of a traced run, written there as JSON
lines.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STEAL_LABEL_FRAC = 0.02   # runs losing more CPU than this to steal are labelled


def metric_units(kind: str) -> dict[str, str]:
    """Names and units of the ``end_to_end`` or ``per_layer`` metrics
    listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


# --- host conditions -----------------------------------------------------------

def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def host_before() -> dict:
    return {"load": os.getloadavg(), "cpu": _cpu_times()}


def host_conditions(before: dict, cores: int) -> dict:
    steal1, total1 = _cpu_times()
    steal0, total0 = before["cpu"]
    steal_frac = (steal1 - steal0) / max(1, total1 - total0)
    import pyspark
    return {
        "cores": cores,
        "loadavg_before": [round(x, 2) for x in before["load"]],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "steal_frac": round(steal_frac, 4),
        "steal_label": ("steal-contaminated" if steal_frac > STEAL_LABEL_FRAC
                        else "clean"),
        "commit": _commit(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip()
    return "unknown"


# --- environment and session -----------------------------------------------------

def prepare_env(work: str, trace: bool) -> str:
    """Point Spark's workers, scratch and (traced) event log into ``work``.

    The Python workers import the engine through PYTHONPATH, so the benchmark
    runs from any working directory. Returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the launcher's too, keeps its scratch and perf data out of
    # the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    args = []
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    return events


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of those processes to end."""
    from pyspark import SparkContext

    import checks
    procs = checks.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --- main ------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("search", "update_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "lucene_7_x_9_x_spark")):
        print("enginebench: the engine package is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = prepare_env(work, trace)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, trace, work, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, trace: bool, work: str, events: str) -> int:
    import checks
    import tracing
    import workloads
    from lucene_7_x_9_x_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    before = host_before()
    tr = tracing.Tracer(enabled=trace)
    with tr.span("session", "get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("enginebench", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
    tr.bind(spark.sparkContext)
    # numpy and generate_corpus take seeds in [0, 2**32)
    r = workloads.Run(spark, tr, work, args.seed % 2**32, args.seconds,
                      cores)
    r.setup_s = start_s
    orig_index_wave = None
    if trace:
        orig_index_wave = _trace_index_wave(tr)
    try:
        workloads.WORKLOADS[args.workload](r)
    finally:
        if orig_index_wave is not None:
            import lucene_7_x_9_x_spark.index.writer as W
            W.index_wave = orig_index_wave
        stop_spark(spark)
    r.e2e["setup_s"] = r.setup_s
    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "host": host_conditions(before, cores), **r.context}

    if trace:
        import layer_report
        spans = os.path.join(os.path.dirname(work), f"spans-{args.workload}"
                             f"-{args.seed}-{os.getpid()}.jsonl")
        tr.write(spans)
        context["spans"] = os.path.relpath(spans, ROOT)
        units = metric_units("per_layer")
        metrics = {m: 0.0 for m in units}
        metrics.update(layer_report.per_layer(r, tr, start_s, events, cores))
    else:
        metrics = r.e2e
        units = metric_units("end_to_end")
    missing = [m for m in units if m not in metrics
               or not checks.is_finite_number(metrics[m])]
    for m in missing:
        r.op(False, f"metric {m} missing or not finite")
    context["failures"] = r.failures[:20]
    ok = r.failed == 0
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": ok, "attempted": r.attempted, "failed": r.failed,
        "metrics": {m: {"value": float(metrics[m]) if m not in missing
                        else 0.0, "unit": u} for m, u in units.items()},
    }))
    sys.stdout.flush()
    return 0 if ok else 1


def _trace_index_wave(tr):
    """Wrap the writer's calls into ``index.builder.index_wave`` in spans,
    so update waves show as builder work inside the writer's span."""
    import lucene_7_x_9_x_spark.index.writer as W
    orig = W.index_wave

    def traced(*a, **kw):
        with tr.span("index.builder", "index_wave"):
            return orig(*a, **kw)

    W.index_wave = traced
    return orig


if __name__ == "__main__":
    sys.exit(main())
