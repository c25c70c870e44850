"""Seed determinism of the generated inputs."""

import filecmp
import os

import pyarrow.parquet as pq

from perfbench import gen


def _corpus(tmp_path, name, seed):
    return gen.write_corpus(str(tmp_path / name), seed, n_files=3,
                            words_per_file=8_000, vocab_size=300)


def test_corpus_same_seed_is_byte_identical(tmp_path):
    a = _corpus(tmp_path, "a", 7)
    b = _corpus(tmp_path, "b", 7)
    assert [os.path.basename(p) for p in a] == ["pg-000.txt", "pg-001.txt", "pg-002.txt"]
    for x, y in zip(a, b):
        assert filecmp.cmp(x, y, shallow=False)
    c = _corpus(tmp_path, "c", 8)
    assert not filecmp.cmp(a[0], c[0], shallow=False)


def test_ops_files_same_seed_are_byte_identical(tmp_path):
    runs = []
    for name in ("a", "b"):
        tables = gen.ops_tables(seed=3, n_files=4, ops_per_file=200, n_keys=50)
        runs.append(gen.write_ops_files(str(tmp_path / name), tables, 10**18))
    for x, y in zip(*runs):
        assert filecmp.cmp(x, y, shallow=False)
    mtimes = [os.stat(p).st_mtime_ns for p in runs[0]]
    assert mtimes == sorted(set(mtimes))  # strictly increasing


def test_ops_log_shape():
    tables = gen.ops_tables(seed=5, n_files=6, ops_per_file=700, n_keys=100)
    rows = [r for t in tables for r in zip(*[t.column(c).to_pylist()
                                              for c in t.column_names])]
    ids = [r[4] for r in rows]
    new = len(set(ids))
    assert new == 6 * 700
    dup_share = (len(ids) - new) / new
    assert 0.10 < dup_share < 0.19  # one op in seven is redelivered
    # batches are seq-monotone: every new op of file i precedes file i+1's
    seen = set()
    for t in tables:
        first = [r for r in t.column("op_id").to_pylist() if r not in seen]
        assert all(x > max(seen, default=-1) for x in first)
        seen.update(first)
    assert set(r[1] for r in rows) == {"get", "put", "append"}


def test_ops_file_schema(tmp_path):
    tables = gen.ops_tables(seed=1, n_files=1, ops_per_file=10, n_keys=5)
    path = gen.write_ops_files(str(tmp_path), tables, 10**18)[0]
    assert pq.read_schema(path).names == ["key", "op", "value", "seq", "op_id"]
