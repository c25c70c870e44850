"""MR-compat surface tests: oracle parity (the reference's golden-diff
technique, main/test-mr.sh:59-67), mr_run round-trip, and rerun
determinism (the crash test's invariant, main/test-mr.sh:194-203)."""

import os

from pyspark.sql import functions as F

from mapreduce_framework_in_go_spark.operators import mapreduce as mr
from mapreduce_framework_in_go_spark.registry import all_queries

from .oracle import compare, rows_canonical

QUERIES = all_queries()


def test_wordcount_oracle(spark, sf_dir, duck):
    compare(QUERIES["mr_wordcount"].fn(spark, sf_dir), duck, QUERIES["mr_wordcount"].oracle)


def test_inverted_index_oracle(spark, sf_dir, duck):
    q = QUERIES["mr_inverted_index"]
    compare(q.fn(spark, sf_dir), duck, q.oracle)


def test_crash_shape_oracle(spark, sf_dir, duck):
    q = QUERIES["mr_crash_shape"]
    compare(q.fn(spark, sf_dir), duck, q.oracle)


def test_mr_run_wordcount_roundtrip(spark, sf_dir):
    """The generic Map/Reduce UDF contract reproduces the built-in wc
    pipeline exactly (same tokenizer predicate: Unicode category L)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    generic = mr.mr_run(docs, mr.wc_map, mr.wc_reduce)
    builtin = QUERIES["mr_wordcount"].fn(spark, sf_dir).select(
        F.col("word").alias("key"), F.col("cnt").cast("string").alias("value")
    )
    g = rows_canonical(generic.columns, [tuple(r) for r in generic.collect()])
    b = rows_canonical(builtin.columns, [tuple(r) for r in builtin.collect()])
    assert g == b


def test_rerun_determinism(spark, sf_dir):
    """Reference proves crash-safety by output identity across reruns
    (test-mr.sh crash test); our analogue: two independent executions of
    the order-sensitive aggregate hash identically."""
    q = QUERIES["mr_crash_shape"]

    def run():
        d = q.fn(spark, sf_dir)
        return rows_canonical(d.columns, [tuple(r) for r in d.collect()])

    assert run() == run()


def test_task_retry_tolerance(spark, sf_dir, tmp_path):
    """The crash app's real assertion: task failure + re-execution still
    yields oracle-identical output. Inject one task failure via a mapInPandas
    batch that throws on first attempt, rely on spark.task.maxFailures."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    marker = str(tmp_path / "flaky_fired")

    def flaky(batches):
        for pdf in batches:
            if not os.path.exists(marker):
                open(marker, "w").close()
                raise RuntimeError("injected task failure (crash.go analogue)")
            yield pdf

    out = docs.mapInPandas(flaky, schema=docs.schema)
    assert out.count() == docs.count()
    assert os.path.exists(marker), "failure never injected — test is vacuous"


def _posting_map(doc, contents):
    for tok in contents.split():
        yield tok, doc


def _posting_reduce(key, values):
    # order-sensitive: a reduce that saw unsorted or split values differs
    return f"{len(values)}:{','.join(values)}"


def test_mr_run_reduce_retry_identical(spark, sf_dir, tmp_path):
    """The crash test's invariant (main/test-mr.sh:194-203) on the
    streaming reduce: a Reduce that dies on the first attempt of
    partition 0 is retried (local[N,2]) and the job's output equals a
    clean run row for row, each key reduced exactly once."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    marker = str(tmp_path / "reduce_crash_fired")

    def crashing_reduce(key, values):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            open(marker, "w").close()
            raise RuntimeError("injected reduce failure (crash.go analogue)")
        return _posting_reduce(key, values)

    clean = sorted(
        tuple(r) for r in mr.mr_run(docs, _posting_map, _posting_reduce).collect()
    )
    retried = sorted(
        tuple(r) for r in mr.mr_run(docs, _posting_map, crashing_reduce).collect()
    )
    assert os.path.exists(marker), "reduce failure never injected — test is vacuous"
    assert retried == clean
    keys = [k for k, _ in retried]
    assert len(keys) == len(set(keys)), "a key was reduced twice"


def test_mr_run_group_boundaries_and_order(spark):
    """Sort-then-stream edge cases: a hot key whose values span many
    7-row Arrow batches, a None key, a None-content doc, empty shuffle
    partitions, and values whose code-point order differs from UTF-16
    order (U+FF5A vs the astral U+1D518). Every key is reduced once,
    over exactly its values, in Python ``sorted`` order."""
    import json

    contents = ["z é a", "ｚ 𝔘 é", None, "𝔘 Z z ｚ", "a e", "", "é é"]
    docs = spark.createDataFrame(
        [(f"d{i}", c) for i, c in enumerate(contents)],
        schema="doc string, content string",
    )

    def map_fn(doc, text):
        i = int(doc[1:])
        for j in range(i, 50, len(contents)):  # 50 hot values, unsorted
            yield "hot", f"{(j * 37) % 50:02d}"
        yield None, doc
        for tok in text.split():
            yield tok, doc

    def reduce_fn(key, values):
        assert values == sorted(values), (key, values)
        return json.dumps(values)

    expected: dict = {}
    for i, c in enumerate(contents):
        for k, v in map_fn(f"d{i}", c or ""):
            expected.setdefault(k, []).append(v)
    assert len(expected["hot"]) == 50

    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.shuffle.partitions": str(4 * len(expected)),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        rows = mr.mr_run(docs, map_fn, reduce_fn, doc_col="doc",
                         content_col="content").collect()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)

    keys = [r["key"] for r in rows]
    assert len(keys) == len(set(keys)), "a key was reduced twice"
    got = {r["key"]: json.loads(r["value"]) for r in rows}
    assert got == {k: sorted(v) for k, v in expected.items()}


def test_mr_run_plan_is_sort_then_stream(spark, sf_dir):
    """mr_run's reduce is one exchange, a (key, value) sort and a
    streaming mapInPandas — never the per-group FlatMapGroupsInPandas."""
    import re

    from mapreduce_framework_in_go_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(mr.mr_run(docs, mr.wc_map, mr.wc_reduce))
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert len(re.findall(r"hashpartitioning\(key#\d+", plan)) == 1, plan

    tree = plan.split("\n\n")[0]
    nodes = re.findall(r"(\w+) \((\d+)\)", tree)
    names = [name for name, _ in nodes]
    top = names.index("MapInPandas")
    assert names[top : top + 4] == ["MapInPandas", "Sort", "Exchange", "MapInPandas"], tree
    sort_id = nodes[top + 1][1]
    sort_args = re.search(
        rf"\({sort_id}\) Sort.*?\nArguments: (.*)\n", plan, re.S
    ).group(1)
    assert re.match(r"\[key#\d+ ASC NULLS FIRST, value#\d+ ASC NULLS FIRST\]", sort_args), sort_args


def test_parallelism_probe(spark):
    """mtiming/rtiming analogue (mrapps/mtiming.go:19-62): tasks must
    actually overlap. Each of 8 partitions records its (start, end)
    wall-clock span around a short sleep; at least two spans must
    intersect on local[N>=2]."""
    import pandas as pd

    def probe(batches):
        import time

        start = time.time()
        n = sum(len(pdf) for pdf in batches)
        time.sleep(0.5)
        yield pd.DataFrame({"start": [start], "end": [time.time()], "n": [n]})

    spans = (
        spark.range(8)
        .repartition(8)
        .mapInPandas(probe, schema="start double, end double, n long")
        .collect()
    )
    assert len(spans) == 8
    overlaps = sum(
        1
        for i, a in enumerate(spans)
        for b in spans[i + 1 :]
        if a["start"] < b["end"] and b["start"] < a["end"]
    )
    assert overlaps >= 1, "no two tasks ran concurrently"


def test_whole_file_scan_roundtrip(spark, tmp_path):
    """S1 whole-file source contract (mr/worker.go:194-206): one record
    per file, (doc, content), driven through the generic mr_run word
    count and checked against a hand computation."""
    (tmp_path / "a.txt").write_text("the cat sat\non the mat")
    (tmp_path / "b.txt").write_text("the dog")
    from mapreduce_framework_in_go_spark.sources.tables import scan_text_corpus

    docs = scan_text_corpus(spark, str(tmp_path))
    rows = {r["doc"]: r["content"] for r in docs.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert rows["a.txt"] == "the cat sat\non the mat"

    out = mr.mr_run(docs, mr.wc_map, mr.wc_reduce, doc_col="doc", content_col="content")
    got = {(r["key"], r["value"]) for r in out.collect()}
    assert got == {
        ("the", "3"), ("cat", "1"), ("sat", "1"), ("on", "1"),
        ("mat", "1"), ("dog", "1"),
    }


def test_mid_write_crash_discards_partial_output(spark, sf_dir, tmp_path):
    """S4 commit contract (mr/worker.go:56-82 temp+rename; exercised by
    the reference's worker-respawn loop, main/test-mr.sh:160-192): a
    task that dies MID-SINK-WRITE must leave no partial output. The
    poison yields rows to the text writer first — so the first attempt
    has already opened its task-temp file and written lines — then
    raises; the committer must discard that attempt's file and publish
    only the retry's. Verified by (a) output dir holds only committed
    part-files (no temp/in-progress artifacts), (b) the merged line set
    equals the canonical expected set exactly — no duplicated or torn
    lines from the crashed attempt."""
    import glob
    import os

    from mapreduce_framework_in_go_spark.sources.sinks import kv_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.length("text").cast("string").alias("value"),
    )
    expected = sorted(r["value"] for r in kv_lines(kv).collect())

    crash_marker = str(tmp_path / "crash_fired")

    def poison(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        crash = tc.partitionId() == 0 and tc.attemptNumber() == 0
        for i, pdf in enumerate(batches):
            yield pdf  # rows reach the file writer before the crash
            if crash:
                open(crash_marker, "w").close()
                raise RuntimeError("injected crash mid-sink-write")

    out = str(tmp_path / "crash_out")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    # several small Arrow batches per task => the writer has consumed
    # (and written) at least one batch before the poison fires
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        lines = kv_lines(kv).mapInPandas(poison, schema="value string")
        lines.write.mode("overwrite").text(out)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert os.path.exists(crash_marker), "poison never fired — test is vacuous"

    files = [os.path.basename(p) for p in glob.glob(os.path.join(out, "*"))]
    assert files, "sink produced no output"
    for f in files:
        assert f == "_SUCCESS" or (
            f.startswith("part-") and not f.endswith((".inprogress", ".tmp"))
        ), f"uncommitted artifact survived: {f}"
    assert "_SUCCESS" in files, "job-level commit marker missing"

    back = sorted(r["value"] for r in spark.read.text(out).collect())
    assert back == expected
