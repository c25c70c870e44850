"""Benchmark command.

    python3 perfbench/run.py --workload mr_apps --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, drives the engine through its
public calls for ``--seconds`` seconds, checks every output, and prints
two lines: a record with every metric of the run (units, sample counts,
input sizes, per-layer numbers) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on the Spark event log and
the benchmark's spans and reports the per-layer metrics, plus the
tracing overhead against the last untraced run of the same workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mr_apps", "kv_stream")

# End-to-end metrics every workload reports, and the per-layer metrics
# every traced run reports (BENCHMARK.json lists the same names). Timings
# in ``ref`` are medians in multiples of the reference clock's median
# reading of the same run (see refclock.py): ``pass_ref`` is one
# wc+indexer+mrrun pass (mr_apps) or the drain bursts (kv_stream), and
# ``op_p50_ref`` one mrrun job (mr_apps) or one ops file's lag (kv_stream).
E2E = {"setup_s": "s", "pass_ref": "ref", "op_p50_ref": "ref"}
PER_LAYER = {
    "session.start_s": "s", "session.warm_pass_s": "s",
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "sources.input_records": "count", "operators.exec_s": "s",
    "operators.exec_jobs": "count", "operators.exec_stages": "count",
    "operators.exec_tasks": "count", "operators.plan_s": "s",
    "operators.task_run_s": "s", "operators.task_cpu_s": "s",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.python_rows": "count", "operators.python_mb": "MB",
    "operators.task_success_ratio": "ratio",
    "driver.rss_mb": "MB", "jvm.rss_mb": "MB", "workers.rss_mb": "MB",
}


def _isolate(work: str) -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    # The engine must be importable from the checkout; without it the
    # benchmark fails here, before any result is printed.
    import mapreduce_framework_in_go_spark.session  # noqa: F401

    from perfbench.harness import Sessions
    from perfbench.procmon import RssSampler
    from perfbench.refclock import RefClock
    from perfbench.stats import median, value
    from perfbench.tracing import Tracer

    traced = bool(args.trace)
    sessions = Sessions(work, traced)
    tracer = Tracer(traced)
    ref = RefClock()
    try:
        with RssSampler(skip=frozenset(p.pid for p in ref.procs)) as rss:
            workload = _workload(args.workload, work, args.seed, sessions,
                                 tracer, rss, ref)
            t0 = time.perf_counter()
            out = workload.run(args.seconds)
            wall = time.perf_counter() - t0
    finally:
        ref.close()
        sessions.shutdown()

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "wall_s": wall,
              "peak_rss_split_mb": {k: rss.peak[k] for k in ("driver", "jvm", "workers")},
              **out["record"]}
    record["metrics"]["peak_rss_mb"] = value(rss.peak["total"], "MB", rss.samples)
    record["metrics"]["ref_s"] = value(median(ref.readings), "s", len(ref.readings))
    last = os.path.join(base, f"last-untraced-{args.workload}.json")
    if traced:
        layers = dict(out["layers"])
        layers["driver.rss_mb"] = rss.peak["driver"]
        layers["jvm.rss_mb"] = rss.peak["jvm"]
        layers["workers.rss_mb"] = rss.peak["workers"]
        record["per_layer"] = layers
        record["tracing_overhead"] = _overhead(last, out["e2e"])
        tracer.dump(os.path.join(base, f"spans-{args.workload}.jsonl"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        with open(last, "w") as f:
            json.dump(out["e2e"], f)
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in E2E.items()}

    attempted, failed = workload.attempted, workload.failed
    record["metrics"]["error_rate"] = value(failed / attempted, "ratio", attempted)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _workload(name: str, work: str, seed: int, sessions, tracer, rss, ref):
    if name == "mr_apps":
        from perfbench.mr_apps import MrApps

        return MrApps(work, seed, sessions, tracer, rss, ref)
    from perfbench.kv_stream import KvStream

    return KvStream(work, seed, sessions, tracer, rss, ref)


def _overhead(path: str, traced: dict) -> dict:
    """Traced minus untraced value of each end-to-end metric, as a share
    of the untraced value, against the last untraced run on record."""
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload on record"}
    with open(path) as f:
        base = json.load(f)
    return {k: {"traced": traced[k], "untraced": base[k],
                "share": (traced[k] - base[k]) / base[k]}
            for k in E2E if base.get(k)}


if __name__ == "__main__":
    sys.exit(main())
