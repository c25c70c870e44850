"""Seeded input generators. The same seed gives byte-identical files.

- ``write_corpus``: whole-file text splits in the shape of the reference's
  ``pg-*.txt`` inputs. Words come from a seeded vocabulary of letter
  runs (a few of them with non-ASCII letters), drawn Zipf-skewed so that
  words repeat across files, joined by non-letter separators.
- ``ops_tables``: the KV ops log ``(key, op, value, seq, op_id)`` as one
  table per file. Ops are a Get/Put/Append mix over Zipf-skewed keys,
  and one op in seven is delivered twice (the copy in the same or the
  next file, as a client retry would redeliver it).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHABET = list("abcdefghijklmnopqrstuvwxyz") + ["é", "ü", "ß", "ñ"]
SEPARATORS = [" ", " ", " ", " ", ", ", ". ", "\n", " -- ", "'", "; ", " 42 ",
              "_", "\n\n"]


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct words, most frequent first. A word's length
    depends on its rank only (frequent words are short), so corpora of
    every seed have about the same number of bytes."""
    # ASCII letters dominate; the non-ASCII letters pin Unicode-letter
    # tokenization on both sides of the output check.
    p = np.full(len(ALPHABET), 1.0)
    p[26:] = 0.15
    p /= p.sum()
    words, seen = [], set()
    while len(words) < size:
        n = 2 + int(np.log2(len(words) + 2))
        w = "".join(ALPHABET[i] for i in rng.choice(len(ALPHABET), n, p=p))
        if len(words) % 9 == 0:
            w = w.capitalize()  # tokens are case-sensitive
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def write_corpus(out_dir: str, seed: int, n_files: int, words_per_file: int,
                 vocab_size: int) -> list[str]:
    """Write ``n_files`` text files of ``words_per_file`` words each.

    Every seed gives the same number of words in every file, so the
    work per file, and how Spark packs files into tasks, does not depend
    on the seed."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, vocab_size)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
    weights /= weights.sum()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        idx = rng.choice(vocab_size, words_per_file, p=weights)
        sep = rng.integers(0, len(SEPARATORS), words_per_file)
        text = "".join([vocab[a] + SEPARATORS[b] for a, b in zip(idx, sep)])
        path = os.path.join(out_dir, f"pg-{i:03d}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        paths.append(path)
    return paths


OPS_SCHEMA = pa.schema([("key", pa.string()), ("op", pa.string()),
                        ("value", pa.string()), ("seq", pa.int64()),
                        ("op_id", pa.int64())])
OP_KINDS = np.array(["get", "put", "append"])
OP_MIX = [0.40, 0.15, 0.45]


def ops_tables(seed: int, n_files: int, ops_per_file: int,
               n_keys: int) -> list[pa.Table]:
    """The ops log split into ``n_files`` files of new ops, seq-ordered
    across files; duplicates keep their original seq and op_id."""
    rng = np.random.default_rng([seed, 2])
    carry: list[tuple] = []
    tables = []
    seq = 0
    for i in range(n_files):
        keys = (rng.zipf(1.3, ops_per_file) - 1) % n_keys
        kinds = rng.choice(3, ops_per_file, p=OP_MIX)
        vals = rng.integers(0, 10_000, ops_per_file)
        rows = carry
        carry = []
        for k, kind, v in zip(keys, kinds, vals):
            op = str(OP_KINDS[kind])
            value = "" if op == "get" else (f"p{v}" if op == "put" else f"+{v % 97}")
            row = (f"k{k:04d}", op, value, seq, seq)
            rows.append(row)
            seq += 1
            if rng.random() < 1 / 7:  # redelivered: same file or the next
                if rng.random() < 0.5 or i == n_files - 1:
                    rows.append(row)
                else:
                    carry.append(row)
        order = rng.permutation(len(rows))  # arrival order within a file
        cols = list(zip(*[rows[j] for j in order]))
        tables.append(pa.Table.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, OPS_SCHEMA.types)],
            schema=OPS_SCHEMA))
    return tables


def write_ops_files(out_dir: str, tables: list[pa.Table], mtime0_ns: int) -> list[str]:
    """Write each table as ``ops-NNNNN.parquet`` with strictly increasing
    mtimes (1 ms apart from ``mtime0_ns``), so a file source taking one
    file per trigger reads file i in batch i."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        path = os.path.join(out_dir, f"ops-{i:05d}.parquet")
        pq.write_table(t, path)
        ts = mtime0_ns + i * 1_000_000
        os.utime(path, ns=(ts, ts))
        paths.append(path)
    return paths
