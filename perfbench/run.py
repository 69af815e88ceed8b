"""Benchmark for the duckdb_sudan__spark engine: one run of one workload.

    python3 perfbench/run.py --workload {provider_fetch,olap_mix} --seed N --seconds S --trace {0,1}

Run it from the repository root. Each run is a fresh process that
launches its own Spark session (local[min(3, nproc - 1)] task slots),
stages seeded inputs under a scratch directory in the checkout, warms
up, times a fixed list of ops, checks every output, removes the
scratch directory, and stops the JVM and its Python workers.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
"end_to_end"):

    setup_s      process start to the first timed op (JVM launch,
                 load_all, staging, untimed warm-up)
    wall_s       wall time of the timed region
    op_p50_s     median op latency
    op_tail_s    the highest percentile of the same samples with at
                 least 10 samples beyond it
    cpu_s        CPU seconds of the process tree (driver Python, JVM,
                 Python workers) over the timed region, from /proc
    retained_mb  JVM heap in use after full GCs plus the RSS of the
                 driver and the Python workers, at the end of the region
    ok_ratio     ops that ran and checked correct / ops attempted (the
                 complement of a failure ratio, which would read 0)

With --trace 1 the run times the ops twice, the first time traced, and
the metrics are the per-layer ones ("per_layer"); the tracing overhead
is the traced pass less the untraced one.
The line before the result is a JSON report with the sample count,
host-noise readings (steal, external CPU, loadavg), the task-slot count
and the set-up breakdown, and in a traced run the spans.

--seconds is the nominal length of the timed region. The op count is
fixed per workload instead, so that wall_s compares across commits; on
a 4-core host the region takes 10-35 s, depending on the workload and
on how busy the host is.

Exit status: 0 when every output checked correct, 1 when a check
failed, 2 when the program under test is not there.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # a run must leave the checkout as it found it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench-scratch")
WORKLOAD_NAMES = ("provider_fetch", "olap_mix")  # workloads.WORKLOADS, importable without the program

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s": "s",
    "retained_mb": "MB",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.load_all_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_failures": "count",
    "exec.jvm_cpu_s": "s",
    "exec.pyworker_cpu_s": "s",
    "exec.live_heap_mb": "MB",
    "exec.pyworker_rss_mb": "MB",
    "exec.pyworkers": "count",
    "providers.fetch_s": "s",
    "providers.http.requests": "count",
    "providers.http.bytes": "bytes",
    "providers.http.wait_s": "s",
    "providers.http.useful_ratio": "ratio",
    "providers.cache.hit_ratio": "ratio",
    "providers.pushdown.sent_per_returned": "ratio",
    "sources.datasource.plan_s": "s",
    "sources.datasource.partitions": "count",
    "self.op_s": "s",
    "self.session_s": "s",
    "self.operators_s": "s",
    "self.plan_s": "s",
    "self.exec_s": "s",
    "self.providers_s": "s",
    "self.providers.http_s": "s",
    "self.sources_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def _olap_layer_names() -> dict[str, str]:
    from perfbench.workloads import OLAP_ENTRIES

    units = {"build_s": "s", "build_jobs": "count", "exec_s": "s"}
    return {f"olap.{k}.{m}": u for k in OLAP_ENTRIES for m, u in units.items()}


def per_layer_units() -> dict[str, str]:
    return PER_LAYER | _olap_layer_names()


def _hermetic_env(scratch: str, slots: int) -> None:
    """Point every writer at the scratch directory, and let the Python
    workers import the package from the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file, which ignores java.io.tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
    })
    tempfile.tempdir = tmp


def _stop(spark, tree) -> None:
    """Stop Spark, then the JVM, and wait until it and its Python workers exit."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    waiting = descendants(tree.jvm) if tree else []
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while waiting and time.monotonic() < deadline:
        waiting = [p for p in waiting if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def _timed(ctx, wl, ops, tree) -> dict:
    """One pass over the ops: latency samples, wall and tree CPU, host
    noise, and retained memory at the end."""
    from perfbench.measure import host_snapshot, host_noise, retained_mb

    wl.begin_pass()
    samples: list[float] = []
    failed = 0
    host0, cpu0 = host_snapshot(), tree.cpu()
    t0 = time.perf_counter()
    for i, op in enumerate(ops):
        try:
            samples.append(wl.run_op(i, op))
        except Exception:  # an op that raises counts as failed; the loop goes on
            traceback.print_exc()
            failed += 1
    wall = time.perf_counter() - t0
    cpu1, host1 = tree.cpu(), host_snapshot()
    mem = retained_mb(ctx.spark, tree)
    return {"t0": t0, "wall_s": wall, "samples": samples, "failed": failed, "attempted": len(ops),
            "cpu_s": cpu1.total_s - cpu0.total_s, "jvm_cpu_s": cpu1.jvm_s - cpu0.jvm_s,
            "pyworker_cpu_s": cpu1.pyworker_s - cpu0.pyworker_s, "memory": mem,
            "host": host_noise(host0, host1)}


def run(workload: str, seed: int, trace: bool) -> tuple[dict, dict, bool, int, int]:
    from perfbench import measure
    from perfbench.workloads import WORKLOADS, Ctx

    slots = max(1, min(3, (os.cpu_count() or 2) - 1))
    os.makedirs(SCRATCH_PARENT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=SCRATCH_PARENT)
    spark = tree = wl = None
    try:
        _hermetic_env(scratch, slots)
        from duckdb_sudan__spark import operators
        from duckdb_sudan__spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        operators.load_all()
        t2 = time.perf_counter()
        start_s, load_all_s = t1 - t0, t2 - t1
        tracer = measure.Tracer(trace)  # records the session spans, then only the traced pass
        tracer.add("session", "start", t0, t1, -1)
        tracer.add("session", "load_all", t1, t2, -1)
        tracer.enabled = False
        from pyspark import SparkContext

        tree = measure.ProcessTree(SparkContext._gateway.proc.pid)
        ctx = Ctx(spark, seed, scratch, tracer)
        wl = WORKLOADS[workload](ctx)
        t = time.perf_counter()
        wl.setup()
        stage_s = time.perf_counter() - t
        ops = wl.ops(random.Random(seed))
        setup_s = measure.process_start_age_s()
        # a traced run times the ops twice, traced first: the traced pass sits
        # where an untraced run's only pass sits, and the untraced pass after it
        # gives the overhead (an upper bound: that pass is also warmer)
        tracer.enabled = trace
        first = _timed(ctx, wl, ops, tree)
        passes = [first]
        if trace:
            tracer.enabled = False
            passes.append(_timed(ctx, wl, ops, tree))
        problems = wl.check()
        failed = sum(p["failed"] for p in passes) + sum(n for n, _ in problems)
        attempted = sum(p["attempted"] for p in passes)
        for _, msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)
        samples = first["samples"]
        e2e = {
            "setup_s": setup_s,
            "wall_s": first["wall_s"],
            "op_p50_s": measure.p50(samples),
            "op_tail_s": measure.tail(samples),
            "cpu_s": first["cpu_s"],
            "retained_mb": first["memory"]["retained_mb"],
            "ok_ratio": 1.0 - failed / attempted,
        }
        report = {
            "workload": workload, "seed": seed, "slots": slots, "nproc": os.cpu_count(),
            "samples": len(samples), "ops": len(ops), "setup": {"session_start_s": start_s,
                                                               "load_all_s": load_all_s,
                                                               "stage_and_warm_s": stage_s},
            "host": first["host"], "memory": first["memory"], "checks_failed": [m for _, m in problems],
            "end_to_end": e2e,
        }
        if not trace:
            return report, e2e, failed == 0, attempted, failed
        report["passes"] = [{"traced": i == 0, "wall_s": p["wall_s"], "host": p["host"]} for i, p in enumerate(passes)]
        t0 = tracer.spans[0].start
        report["spans"] = [[s.layer, s.name, s.start - t0, s.end - t0, s.parent] for s in tracer.spans]
        overhead = passes[0]["wall_s"] - passes[1]["wall_s"]
        return report, _layers(wl, tracer, passes[0], overhead, start_s, load_all_s), failed == 0, attempted, failed
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop(spark, tree)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_PARENT)
        except OSError:
            pass  # another run's scratch is still there


def _layers(wl, tracer, traced: dict, overhead_s: float, start_s: float, load_all_s: float) -> dict:
    spans = tracer.spans

    def total(layer: str) -> float:
        return sum(s.end - s.start for s in spans if s.layer == layer)

    selfs = tracer.self_times()
    mem = traced["memory"]
    out = {
        "session.start_s": start_s,
        "session.load_all_s": load_all_s,
        "operators.build_s": total("operators"),
        "plan.plan_s": total("plan"),
        "exec.exec_s": total("exec"),
        "exec.jvm_cpu_s": traced["jvm_cpu_s"],
        "exec.pyworker_cpu_s": traced["pyworker_cpu_s"],
        "exec.live_heap_mb": mem["live_heap_mb"],
        "exec.pyworker_rss_mb": mem["pyworker_rss_mb"],
        "exec.pyworkers": float(mem["pyworkers"]),
        "trace.overhead_s": overhead_s,
        "trace.spans": float(len(spans)),
    }
    for layer in ("op", "session", "operators", "plan", "exec", "providers", "providers.http", "sources"):
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    out |= wl.layer_metrics()
    return {k: float(out.get(k, 0.0)) for k in per_layer_units()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "duckdb_sudan__spark", "__init__.py")):
        print(f"perfbench: the duckdb_sudan__spark package is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a run stopped from outside still stops the JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    report, metrics, correct, attempted, failed = run(args.workload, args.seed, bool(args.trace))
    report["seconds"] = args.seconds
    units = per_layer_units() if args.trace else END_TO_END
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
