"""Workload ``mr_apps``: the reference's own pipeline at a size where
per-byte work (scan, tokenize, exchange, Python boundary, sink writes)
dominates and frame construction is about 0.

One pass runs three jobs back to back over the seeded corpus, each
written as sharded ``"key value"`` text through ``write_kv_text``:
``app_wordcount``, ``app_indexer`` and the generic Map/Reduce UDF
contract ``mr_run(wc_map, wc_reduce)``. Every job's output is checked
against the sequential oracle. The loop is closed: one client, the next
job starts when the previous one has finished.
"""

from __future__ import annotations

import os
import time

from . import checks, gen
from .stats import median, summary, value
from .tracing import MB, job_metrics, parse_event_log, per_unit, write_stage_run_s

CORPUS_FILES = 16
CORPUS_WORDS_PER_FILE = 30_000
VOCABULARY = 4000
WARM_PASSES = 2
JOBS = ("wc", "indexer", "mrrun")


def _frame(spark, job: str, glob_path: str):
    from mapreduce_framework_in_go_spark.__main__ import app_indexer, app_wordcount
    from mapreduce_framework_in_go_spark.operators.mapreduce import (
        mr_run, wc_map, wc_reduce)
    from mapreduce_framework_in_go_spark.sources.tables import scan_text_corpus

    if job == "wc":
        return app_wordcount(spark, glob_path), "word", "cnt"
    if job == "indexer":
        return app_indexer(spark, glob_path), "word", "index_line"
    docs = scan_text_corpus(spark, glob_path)
    return (mr_run(docs, wc_map, wc_reduce, doc_col="doc", content_col="content"),
            "key", "value")


class MrApps:
    def __init__(self, work: str, seed: int, sessions, tracer, rss, ref):
        self.work = work
        self.sessions = sessions
        self.tracer = tracer
        self.rss = rss
        self.ref = ref
        corpus = os.path.join(work, "corpus")
        self.paths = gen.write_corpus(corpus, seed, CORPUS_FILES, CORPUS_WORDS_PER_FILE,
                                      VOCABULARY)
        self.glob = os.path.join(corpus, "pg-*.txt")
        wc, index = checks.mr_oracle(self.paths)
        self.expected = {"wc": wc, "indexer": index, "mrrun": wc}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def run_job(self, spark, op: str, job: str) -> tuple[float, float]:
        """Read the reference clock, then build, execute and sink one job;
        returns (build_s, total_s). The output check runs after the clock
        stops."""
        from mapreduce_framework_in_go_spark.sources.sinks import write_kv_text

        out = os.path.join(self.work, "out", job)
        self.ref.read()
        t0 = time.perf_counter()
        with self.tracer.span("build", op, spark, "build"):
            df, key, value = _frame(spark, job, self.glob)
        t1 = time.perf_counter()
        with self.tracer.span("exec", op, spark, "exec"):
            write_kv_text(df, out, key=key, value=value)
        t2 = time.perf_counter()
        with self.tracer.span("check", op):
            bad = checks.check_kv_text(out, self.expected[job])
        self.attempted += 1
        if bad:
            self.failed += 1
            self.mismatches.append(f"{op}: {len(bad)} keys, e.g. {bad[:3]}")
        return t1 - t0, t2 - t0

    def run_pass(self, spark, tag: str) -> dict[str, tuple[float, float]]:
        with self.tracer.span("pass", tag):
            return {job: self.run_job(spark, f"{tag}.{job}", job) for job in JOBS}

    def run(self, seconds: float) -> dict:
        # set-up: session, warm-up query, then untimed passes until the
        # JIT-compiled paths are warm; the first pass is the cold one
        t0 = time.perf_counter()
        with self.tracer.span("setup", "setup"):
            spark, start_s = self.sessions.start()
            spark.range(1000).selectExpr("sum(id)").collect()
            warm = [self.run_pass(spark, f"w{k}") for k in range(WARM_PASSES)]
        setup_s = time.perf_counter() - t0
        first_builds = {job: b for job, (b, _) in warm[0].items()}
        first_pass = sum(total for _, total in warm[0].values())
        app_id = self.sessions.app_id()

        times: dict[str, list[float]] = {job: [] for job in JOBS}
        builds: dict[str, list[float]] = {job: [] for job in JOBS}
        passes = []
        self.ref.reset()
        self.rss.reset()
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            res = self.run_pass(spark, f"t{len(passes)}")
            for job, (b, total) in res.items():
                times[job].append(total)
                builds[job].append(b)
            passes.append(sum(total for _, total in res.values()))
        self.ref.read()
        jobs_all = [t for job in JOBS for t in times[job]]
        record = {
            "corpus_mb": sum(os.path.getsize(p) for p in self.paths) / MB,
            "corpus_files": len(self.paths),
            "mismatches": self.mismatches,
            "job_times_s": times,
            "ref_s": self.ref.readings,
            "metrics": {
                "setup_s": value(setup_s, "s", 1),
                **{f"{job}_s": summary(times[job]) for job in JOBS},
                "pass_s": summary(passes),
                "job_s": summary(jobs_all),
            },
        }
        # pass p is timed between the clock's readings before each of its
        # jobs and the one before the next pass (or after the last)
        def in_ref(seconds, p):
            return self.ref.in_ref(seconds, len(JOBS) * p, len(JOBS) * (p + 1) + 1)

        e2e = {
            "setup_s": setup_s,
            "pass_ref": median([in_ref(t, p) for p, t in enumerate(passes)]),
            # the generic Map/Reduce UDF contract is the workload's main
            # operation; wc and indexer jobs are too short to time alone
            # on a shared host
            "op_p50_ref": median([in_ref(t, p) for p, t in enumerate(times["mrrun"])]),
        }
        layers = {}
        if self.tracer.enabled:
            layers = self._layers(spark, app_id, len(passes), start_s,
                                  first_pass, first_builds, builds)
        return {"e2e": e2e, "record": record, "layers": layers}

    def _layers(self, spark, app_id, n_pass, start_s, first_pass,
                first_builds, builds) -> dict:
        """Per-layer numbers of the traced run, per timed pass."""
        from pyspark.sql import functions as F

        from mapreduce_framework_in_go_spark.functions.text import tokens_col
        from mapreduce_framework_in_go_spark.sources.tables import scan_text_corpus

        probes = {}
        for name, build in (
            ("scan", lambda: scan_text_corpus(spark, self.glob)),
            ("tokenize", lambda: scan_text_corpus(spark, self.glob).select(
                F.explode(tokens_col("content")).alias("w"))),
        ):
            t0 = time.perf_counter()
            with self.tracer.span(name, f"probe.{name}", spark, "probe"):
                build().write.format("noop").mode("overwrite").save()
            probes[name] = time.perf_counter() - t0
        sink_files = sink_mb = 0.0
        for job in JOBS:
            for p in os.listdir(os.path.join(self.work, "out", job)):
                if p.startswith("part-"):
                    sink_files += 1
                    sink_mb += os.path.getsize(
                        os.path.join(self.work, "out", job, p)) / MB
        self.sessions.stop()
        log = parse_event_log(self.sessions.event_log(app_id))

        def timed(phase, job=""):
            return lambda j: (j["group"].startswith("t")
                              and j["group"].endswith(f"{job}/{phase}"))

        ex = job_metrics(log, timed("exec"))
        mr = job_metrics(log, timed("exec", "mrrun"))
        bj = job_metrics(log, timed("build"))
        warm_build = sum(median(v) for v in builds.values())
        layers = {
            "session.start_s": start_s,
            "session.warm_pass_s": first_pass,
            "sources.scan_s": probes["scan"],
            "functions.tokenize_s": probes["tokenize"],
            "operators.build_s": self.tracer.total("build", "t") / n_pass,
            "operators.build_jobs": bj["jobs"] / n_pass,
            "plan_cache.warm_build_ratio": warm_build / sum(first_builds.values()),
            "mapreduce.python_rows": mr["python_rows"] / n_pass,
            "mapreduce.python_mb": mr["python_mb"] / n_pass,
            "sinks.output_mb": sink_mb,
            "sinks.output_files": sink_files,
            "sinks.write_s": write_stage_run_s(log, timed("exec")) / n_pass,
        }
        layers.update(per_unit(ex, n_pass))
        return layers

