"""Workload ``kv_stream``: the paper's KV tier as an open-loop stream.

Seeded ops-log parquet files land in the input directory on a fixed
schedule, atomically (rename) and in mtime order. The engine reads them
with ``maxFilesPerTrigger=1`` through ``kv_state_stream`` into a memory
sink, so micro-batch i reads file i. Puts and appends write state while
gets read it; the per-micro-batch fixed cost and the state store
dominate.

- Warm-up (part of set-up): ``WARM_FILES`` files land at once.
- Nominal phase: files land at ``NOMINAL_RATE`` files/s, a constant of
  the workload, below what the engine sustains, so the backlog stays
  flat. Each file's lag runs from when it was due to land to the commit
  of the micro-batch that read it.
- Drain phase: bursts of ``BURST_FILES`` files land at once, more than
  the engine can take, and the summed time from each burst landing to
  the commit of its last file gives the drain throughput. Short bursts,
  with the reference clock read between them, keep the clock's readings
  spread over the whole timed phase as the host's speed drifts.

The generator is a thread of its own that sleeps to each due time and
never waits for the engine. After the run the final state per key is
checked against a sequential fold of every delivered op.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

from . import checks, gen
from .stats import median, summary, value
from .tracing import MB, job_metrics, parse_event_log, per_unit

OPS_PER_FILE = 1000
N_KEYS = 1000
NOMINAL_RATE = 0.5  # files per second
WARM_FILES = 10
BURST_FILES = 2
SCHEMA = "key string, op string, value string, seq long, op_id long"


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _commit(progress: dict) -> float:
    """Commit time of a micro-batch: trigger start plus its duration."""
    return _epoch(progress["timestamp"]) + progress["durationMs"]["triggerExecution"] / 1000.0


class Lander:
    """Moves staged files into the input directory at their due times."""

    def __init__(self, staged: list[str], input_dir: str):
        self.staged = staged
        self.input_dir = input_dir
        self.landed: list[float] = [0.0] * len(staged)

    def land(self, i: int) -> None:
        os.replace(self.staged[i], os.path.join(self.input_dir,
                                                os.path.basename(self.staged[i])))
        self.landed[i] = time.time()

    def schedule(self, first: int, due: list[float]) -> threading.Thread:
        def loop():
            for k, t in enumerate(due):
                delay = t - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.land(first + k)

        th = threading.Thread(target=loop, name="lander", daemon=True)
        th.start()
        return th


class KvStream:
    def __init__(self, work: str, seed: int, sessions, tracer, rss, ref):
        self.ref = ref
        self.work = work
        self.seed = seed
        self.sessions = sessions
        self.tracer = tracer
        self.rss = rss
        self.attempted = 0
        self.failed = 0

    def _start_stream(self, spark):
        input_dir = os.path.join(self.work, "input")
        os.makedirs(input_dir, exist_ok=True)
        from mapreduce_framework_in_go_spark.streaming.kv_state import kv_state_stream

        src = (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
               .parquet(input_dir))
        query = (kv_state_stream(src).writeStream.format("memory")
                 .queryName("kv").outputMode("update")
                 .option("checkpointLocation", os.path.join(self.work, "ckpt"))
                 .start())
        return query, input_dir

    @staticmethod
    def _data_batches(query) -> list[dict]:
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    @staticmethod
    def _committed(query) -> int:
        """Micro-batches committed so far. Every micro-batch of this query
        reads one file, so batch ids run 0, 1, 2, ... without gaps. Polls
        only the last progress report, which is cheap next to the stream."""
        last = query.lastProgress
        if last is None:
            return 0
        return last["batchId"] + (1 if last["numInputRows"] > 0 else 0)

    def _wait(self, query, n: int, timeout: float = 120) -> list[dict]:
        """Wait until ``n`` data micro-batches have committed."""
        deadline = time.time() + timeout
        while self._committed(query) < n:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"{self._committed(query)} of {n} "
                                   f"micro-batches in {timeout} s")
            time.sleep(0.1)
        return self._data_batches(query)

    def run(self, seconds: float) -> dict:
        n_nominal = max(4, round(0.6 * seconds * NOMINAL_RATE))
        n_bursts = max(2, round(0.4 * seconds / BURST_FILES))
        n_burst = n_bursts * BURST_FILES
        n_files = WARM_FILES + n_nominal + n_burst
        tables = gen.ops_tables(self.seed, n_files, OPS_PER_FILE, N_KEYS)

        staged = gen.write_ops_files(os.path.join(self.work, "staged"), tables,
                                     time.time_ns() - 10**12)
        # set-up: session, warm-up query, stream start and the warm-up
        # files, one micro-batch each; the first micro-batch is the cold one
        t0 = time.perf_counter()
        with self.tracer.span("setup", "setup"):
            spark, start_s = self.sessions.start()
            spark.range(1000).selectExpr("sum(id)").collect()
            query, input_dir = self._start_stream(spark)
            lander = Lander(staged, input_dir)
            for i in range(WARM_FILES):
                lander.land(i)
            warm = self._wait(query, WARM_FILES)
        setup_s = time.perf_counter() - t0
        first_batch = warm[0]["durationMs"]["triggerExecution"] / 1000.0
        app_id = self.sessions.app_id()

        # nominal phase: open loop at a fixed rate; the reference clock is
        # read twice before it and twice in the idle gap after each
        # micro-batch commits
        self.rss.reset()
        self.ref.reset()
        self.ref.read()
        self.ref.read()
        t_nom = time.time() + 0.5
        due = [t_nom + j / NOMINAL_RATE for j in range(n_nominal)]
        with self.tracer.span("nominal", "nominal"):
            th = lander.schedule(WARM_FILES, due)
            for j in range(n_nominal):
                self._wait(query, WARM_FILES + j + 1)
                self.ref.read()
                self.ref.read()
            th.join()
            got = self._wait(query, WARM_FILES + n_nominal)
        nominal = got[WARM_FILES:WARM_FILES + n_nominal]
        lags = [_commit(p) - d for p, d in zip(nominal, due)]
        late = [lander.landed[WARM_FILES + j] - d for j, d in enumerate(due)]
        # files landed but not yet committed one period after the last was due
        t_end = due[-1] + 1 / NOMINAL_RATE
        backlog = (sum(t <= t_end for t in lander.landed[:WARM_FILES + n_nominal])
                   - sum(_commit(p) <= t_end for p in got))

        # drain phase: bursts beyond capacity, the reference clock read
        # twice after each
        first = WARM_FILES + n_nominal
        drain_s = 0.0
        with self.tracer.span("drain", "drain"):
            for lo in range(first, n_files, BURST_FILES):
                t_burst = time.time()
                for i in range(lo, lo + BURST_FILES):
                    lander.land(i)
                got = self._wait(query, lo + BURST_FILES)
                drain_s += _commit(got[lo + BURST_FILES - 1]) - t_burst
                self.ref.read()
                self.ref.read()
        burst = got[first:n_files]
        burst_ops = sum(p["numInputRows"] for p in burst)

        # output check: final state per key against the sequential fold
        rows = [tuple(r) for r in spark.table("kv").collect()]
        ops = [r for t in tables for r in zip(*[t.column(c).to_pylist()
                                                for c in t.column_names])]
        expected = checks.kv_fold(ops)
        bad = checks.diff(expected, checks.final_kv_state(rows))
        bad_keys = set(bad)
        self.attempted = len({op[4] for op in ops})
        self.failed = len({op[4] for op in ops if op[0] in bad_keys})
        misread = [p["batchId"] for p, t in zip(got, tables)
                   if p["numInputRows"] != t.num_rows]
        if misread:
            raise RuntimeError(f"micro-batches {misread} did not read one file each")

        last = got[-1]["stateOperators"][0]
        timed = got[WARM_FILES:]
        record = {
            "ops_files": n_files, "ops_per_file": OPS_PER_FILE,
            "ops_total": len(ops),
            "input_mb": sum(os.path.getsize(os.path.join(input_dir, f))
                            for f in os.listdir(input_dir)
                            if f.endswith(".parquet")) / MB,
            "nominal_rate_files_per_s": NOMINAL_RATE,
            "nominal_files": n_nominal, "burst_files": n_burst,
            "mismatched_keys": bad[:10],
            "nominal_lags_s": lags,
            "ref_s": self.ref.readings,
            "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in got],
            "metrics": {
                "setup_s": value(setup_s, "s", 1),
                "kv_lag_s": summary(lags),
                "kv_drain_s": value(drain_s, "s", len(burst)),
                "kv_drain_ops_per_s": value(burst_ops / drain_s, "1/s", len(burst)),
                "streaming.backlog_files": value(backlog, "count", 1),
                "streaming.gen_late_s": value(max(late), "s", len(late)),
            },
        }
        # file j's lag is timed between the two readings before its
        # micro-batch and the two after; the drain between the last two
        # readings of the nominal phase and every reading after them
        e2e = {"setup_s": setup_s,
               "pass_ref": self.ref.in_ref(drain_s, 2 * n_nominal),
               "op_p50_ref": median([self.ref.in_ref(lag, 2 * j, 2 * j + 4)
                                     for j, lag in enumerate(lags)])}
        query.stop()
        layers = {}
        if self.tracer.enabled:
            for p in timed:
                commit = _commit(p)
                self.tracer.add("micro-batch", f"b{p['batchId']}",
                                commit - p["durationMs"]["triggerExecution"] / 1000.0,
                                commit)
            layers = self._layers(spark, app_id, timed, last, start_s,
                                  first_batch, input_dir, backlog, late)
        return {"e2e": e2e, "record": record, "layers": layers}

    def _layers(self, spark, app_id, timed, last, start_s, first_batch,
                input_dir, backlog, late) -> dict:
        """Per-layer numbers of the traced run, per timed micro-batch."""
        t0 = time.perf_counter()
        with self.tracer.span("scan", "probe.scan", spark, "probe"):
            spark.read.schema(SCHEMA).parquet(input_dir).write.format("noop") \
                .mode("overwrite").save()
        scan_s = time.perf_counter() - t0
        self.sessions.stop()
        log = parse_event_log(self.sessions.event_log(app_id))
        ids = {p["batchId"] for p in timed}

        def in_timed(job):
            return job["stream"] and job.get("batch") in ids

        n = len(timed)
        dur = [p["durationMs"] for p in timed]
        layers = {
            "session.start_s": start_s,
            "session.warm_pass_s": first_batch,
            "sources.scan_s": scan_s,
            "sources.latest_offset_s": median([d.get("latestOffset", 0) / 1000 for d in dur]),
            "streaming.batch_s": median([d["triggerExecution"] / 1000 for d in dur]),
            "streaming.add_batch_s": median([d.get("addBatch", 0) / 1000 for d in dur]),
            "streaming.query_planning_s": median([d.get("queryPlanning", 0) / 1000 for d in dur]),
            "streaming.wal_commit_s": median([d.get("walCommit", 0) / 1000 for d in dur]),
            "streaming.rows_per_batch": median([p["numInputRows"] for p in timed]),
            "streaming.state_rows": last["numRowsTotal"],
            "streaming.state_mb": last["memoryUsedBytes"] / MB,
            "streaming.backlog_files": backlog,
            "streaming.gen_late_s": max(late),
        }
        layers.update(per_unit(job_metrics(log, in_timed), n))
        return layers
