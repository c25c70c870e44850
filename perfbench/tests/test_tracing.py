"""The event-log parser on a tiny captured log: one ``mr_run`` word
count over two files (``"a b c a"``, ``"b c d"``) written as text, then
a scan-only probe. The log is trimmed to the fields the parser reads."""

import os

import pytest

from perfbench.tracing import MB, Tracer, job_metrics, parse_event_log, write_stage_run_s

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_mrrun.jsonl")


@pytest.fixture(scope="module")
def log():
    return parse_event_log(LOG)


def test_jobs_carry_group_and_execution(log):
    assert {j: (v["group"], v["exec_id"], v["stream"]) for j, v in log["jobs"].items()} == {
        0: ("t0.mrrun/exec", 0, False),
        1: ("t0.mrrun/exec", 0, False),
        2: ("probe.scan/probe", 1, False),
    }


def test_exec_job_metrics(log):
    m = job_metrics(log, lambda j: j["group"].endswith("/exec"))
    assert m["jobs"] == 2
    assert m["stages"] == 2  # stage 1 was skipped (reused shuffle)
    assert m["tasks"] == 3 and m["failed"] == 0
    assert m["exec_s"] == pytest.approx(2.685 + 0.678, abs=1e-6)
    assert m["plan_s"] == pytest.approx(1.468, abs=1e-6)  # SQL start -> first job
    assert m["run_s"] == pytest.approx(5.044)
    assert m["cpu_s"] == pytest.approx(0.910695229)
    assert m["gc_s"] == pytest.approx(0.015)
    assert m["input_records"] == 2
    assert m["input_mb"] == pytest.approx(14 / MB)
    assert m["shuffle_write_mb"] == pytest.approx(368 / MB)
    assert m["shuffle_read_mb"] == pytest.approx(368 / MB)
    assert m["output_mb"] == pytest.approx(16 / MB)
    # 7 (word, 1) pairs out of the map, 4 reduced keys out of the reduce
    assert m["python_rows"] == 11
    assert m["python_mb"] == pytest.approx((312 + 304 + 312 + 320 + 1168 + 1152) / MB)
    assert write_stage_run_s(log, lambda j: j["group"].endswith("/exec")) == pytest.approx(0.511)


def test_probe_job_metrics(log):
    m = job_metrics(log, lambda j: j["group"] == "probe.scan/probe")
    assert (m["jobs"], m["stages"], m["tasks"], m["input_records"]) == (1, 1, 2, 2)
    assert m["run_s"] == pytest.approx(0.035)
    assert m["plan_s"] == pytest.approx(0.110, abs=1e-6)
    assert m["python_rows"] == 0


def test_tracer_spans_nest_and_share_ids(tmp_path):
    tr = Tracer(True)
    with tr.span("pass", "t0"):
        with tr.span("build", "t0.wc"):
            pass
    tr.add("micro-batch", "b3", 1.0, 2.5)
    assert [(s["name"], s["id"], s["parent"]) for s in tr.spans] == [
        ("pass", "t0", None), ("build", "t0.wc", 0), ("micro-batch", "b3", None)]
    assert tr.total("micro-batch") == 1.5
    tr.dump(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 3
    off = Tracer(False)
    with off.span("pass", "t0"):
        pass
    assert off.spans == []


def test_micro_batch_id_from_a_streaming_job_description():
    from perfbench.tracing import _batch_id

    assert _batch_id("kv\nid = 1f\nrunId = 2e\nbatch = 12") == 12
    assert _batch_id("kv\nid = 1f\nrunId = 2e\nbatch = init") is None
    assert _batch_id("exec") is None and _batch_id(None) is None
