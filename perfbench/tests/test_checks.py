"""The output checks reject planted corruptions."""

import os

from perfbench import checks, gen


def _write_shards(out_dir, mapping, shards=3):
    os.makedirs(out_dir, exist_ok=True)
    items = sorted(mapping.items())
    for s in range(shards):
        with open(os.path.join(out_dir, f"part-{s:05d}.txt"), "w") as f:
            for k, v in items[s::shards]:
                f.write(f"{k} {v}\n")


def test_letter_runs_match_unicode_letter_scan(tmp_path):
    path = gen.write_corpus(str(tmp_path), 2, 1, 6_000, 500)[0]
    text = open(path, encoding="utf-8").read()
    runs, cur = [], []
    for ch in text:  # Go's unicode.IsLetter is str.isalpha
        if ch.isalpha():
            cur.append(ch)
        elif cur:
            runs.append("".join(cur))
            cur = []
    if cur:
        runs.append("".join(cur))
    assert checks.letter_runs(text) == runs
    assert any(not w.isascii() for w in runs)


def test_mr_oracle_semantics(tmp_path):
    a, b = tmp_path / "pg-a.txt", tmp_path / "pg-b.txt"
    a.write_text("the cat, the Cat.\n")
    b.write_text("cat_dog 9the")
    wc, index = checks.mr_oracle([str(a), str(b)])
    assert wc == {"the": "3", "cat": "2", "Cat": "1", "dog": "1"}
    assert index["the"] == "2 pg-a.txt,pg-b.txt"
    assert index["Cat"] == "1 pg-a.txt"


def _oracle(tmp_path):
    paths = gen.write_corpus(str(tmp_path / "c"), 4, 3, 1_500, 200)
    return checks.mr_oracle(paths)


def test_mr_check_accepts_exact_output(tmp_path):
    wc, index = _oracle(tmp_path)
    _write_shards(str(tmp_path / "wc"), wc)
    _write_shards(str(tmp_path / "ix"), index)
    assert checks.check_kv_text(str(tmp_path / "wc"), wc) == []
    assert checks.check_kv_text(str(tmp_path / "ix"), index) == []


def test_mr_check_rejects_one_changed_count(tmp_path):
    wc, _ = _oracle(tmp_path)
    key = sorted(wc)[5]
    bad = dict(wc, **{key: str(int(wc[key]) + 1)})
    _write_shards(str(tmp_path / "wc"), bad)
    assert checks.check_kv_text(str(tmp_path / "wc"), wc) == [key]


def test_mr_check_rejects_one_missing_key(tmp_path):
    _, index = _oracle(tmp_path)
    key = sorted(index)[-1]
    _write_shards(str(tmp_path / "ix"), {k: v for k, v in index.items() if k != key})
    assert checks.check_kv_text(str(tmp_path / "ix"), index) == [key]


def test_mr_check_rejects_a_key_written_twice(tmp_path):
    wc, _ = _oracle(tmp_path)
    _write_shards(str(tmp_path / "wc"), wc)
    k = sorted(wc)[0]
    with open(tmp_path / "wc" / "part-00009.txt", "w") as f:
        f.write(f"{k} {wc[k]}\n")
    assert checks.check_kv_text(str(tmp_path / "wc"), wc) == ["<duplicate key>"]


OPS = [  # (key, op, value, seq, op_id), delivered out of order with a retry
    ("a", "put", "x", 0, 0),
    ("a", "append", "1", 1, 1),
    ("b", "get", "", 2, 2),
    ("a", "append", "2", 3, 3),
    ("a", "append", "1", 1, 1),  # redelivered: applies once
    ("b", "append", "z", 4, 4),
    ("a", "put", "y", 5, 5),
    ("a", "append", "3", 6, 6),
]


def test_kv_fold_semantics():
    assert checks.kv_fold(OPS) == {"a": ("y3", 5), "b": ("z", 1)}


def test_kv_check_rejects_an_unapplied_append():
    expected = checks.kv_fold(OPS)
    # update-mode sink rows across two micro-batches; the last append to
    # "a" was dropped by the engine
    rows = [("a", "x12", 3), ("b", "", 0), ("a", "y", 4), ("b", "z", 1)]
    got = checks.final_kv_state(rows)
    assert checks.diff(expected, got) == ["a"]
    good = rows + [("a", "y3", 5)]
    assert checks.diff(expected, checks.final_kv_state(good)) == []


def test_kv_check_rejects_a_missing_key():
    expected = checks.kv_fold(OPS)
    got = checks.final_kv_state([("a", "y3", 5)])
    assert checks.diff(expected, got) == ["b"]
