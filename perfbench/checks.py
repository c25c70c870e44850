"""Output checks. Each returns the list of mismatched keys, so a caller
can count the failure against the operations it attempted.

- MapReduce apps: a sequential oracle with ``main/mrsequential.go``
  semantics (maximal Unicode-letter-run tokens, one global group-by-key
  over all inputs) against the parsed sharded ``"key value"`` output.
- KV stream: the final state per key against a sequential fold of every
  delivered op (put overwrites, append concatenates, an op_id applies
  once).
"""

from __future__ import annotations

import glob
import os
import re
from collections import Counter, defaultdict

# Python's ``\w`` minus digits and underscore is exactly the letters for
# every character the corpus generator emits (see tests/test_checks.py,
# which compares it with a ``str.isalpha`` scan — Go's unicode.IsLetter).
_LETTER_RUN = re.compile(r"[^\W\d_]+")


def letter_runs(text: str) -> list[str]:
    return _LETTER_RUN.findall(text)


def mr_oracle(paths: list[str]) -> tuple[dict[str, str], dict[str, str]]:
    """Expected wc and indexer outputs, key -> value text."""
    counts: Counter = Counter()
    docs: defaultdict[str, set] = defaultdict(set)
    for path in paths:
        with open(path, encoding="utf-8") as f:
            words = letter_runs(f.read())
        counts.update(words)
        doc = os.path.basename(path)
        for w in set(words):
            docs[w].add(doc)
    wc = {w: str(n) for w, n in counts.items()}
    index = {w: f"{len(d)} {','.join(sorted(d))}" for w, d in docs.items()}
    return wc, index


def read_kv_text(out_dir: str) -> tuple[dict[str, str], int]:
    """Parse a sharded text output directory into key -> value, plus the
    number of duplicated keys (a key written by two shards)."""
    got: dict[str, str] = {}
    dups = 0
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                key, _, value = line.partition(" ")
                if key in got:
                    dups += 1
                got[key] = value
    return got, dups


def diff(expected: dict, got: dict) -> list[str]:
    """Keys that are missing, extra or carry another value."""
    bad = [k for k, v in expected.items() if got.get(k) != v]
    bad += [k for k in got if k not in expected]
    return sorted(bad)


def check_kv_text(out_dir: str, expected: dict[str, str]) -> list[str]:
    got, dups = read_kv_text(out_dir)
    bad = diff(expected, got)
    return bad + ["<duplicate key>"] * dups


def kv_fold(rows) -> dict[str, tuple[str, int]]:
    """Sequential fold of ``(key, op, value, seq, op_id)`` rows:
    key -> (final value, number of effective ops)."""
    state: dict[str, tuple[str, int]] = {}
    applied: set[int] = set()
    for key, op, value, seq, op_id in sorted(rows, key=lambda r: r[3]):
        cur, n = state.get(key, ("", 0))
        if op != "get" and op_id not in applied:
            applied.add(op_id)
            cur = value if op == "put" else cur + value
            n += 1
        state[key] = (cur, n)
    return state


def final_kv_state(rows) -> dict[str, tuple[str, int]]:
    """The engine's final state from the update-mode sink rows
    ``(key, value, n_effect_ops)``: per key the row with the most
    effective ops (its count only grows)."""
    out: dict[str, tuple[str, int]] = {}
    for key, value, n in rows:
        if key not in out or n >= out[key][1]:
            out[key] = (value, n)
    return out
