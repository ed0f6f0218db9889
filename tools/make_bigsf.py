"""Measurement-only scaled dataset builder (optimization round).

Replicates /root/testdata/sf0.1 R times with key shifts so per-query timing
can be studied at a sf1.0-like row count WITHOUT the driver's generator
(which we do not have). The output is NOT oracle-comparable — it exists only
so bench_extra.py can time queries at a scale where shuffles/joins dominate
(guide SS1: measure at the scale you are optimizing for).

Structure-preserving perturbations keep workload *shape* realistic:

* keys: every replica i shifts each table's keys by i * OFFSET so joins keep
  referential integrity and per-key cardinalities (no hot keys introduced).
* documents.text: a per-replica letter-permutation cipher over every word
  EXCEPT the hot vocabulary — the most frequent words of the source corpus,
  which together cover HOT_SHARE (half) of its word occurrences. Hot words
  stay plain in every replica, so a gram made of hot words is shared across
  replicas and its document frequency grows with R, the way stop-phrase
  grams do in real text; grams with a ciphered word stay replica-local.
  Within a replica exact duplicates stay exact and word n-gram Jaccard is
  preserved (the cipher maps distinct words to distinct words, unless a
  ciphered word happens to spell a hot one). Ciphering every word would
  leave replicas sharing ~no grams, so near-dup candidate counts would grow
  only linearly with R and hide the cost of hot-gram pair expansion.
* embeddings.embedding: a per-replica permutation of the dimensions.
  Orthogonal => within-replica distances exact; cross-replica decorrelated.

Usage: python tools/make_bigsf.py [--out /root/bigsf] [--replicas 10]
"""

from __future__ import annotations

import argparse
import collections
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OFFSET = 100_000_000  # > any key in sf0.1

# table -> columns to shift by replica * OFFSET
KEY_SHIFTS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLETON = ["nation", "region"]  # fixed-size dimension tables: one copy
HOT_SHARE = 0.5  # share of word occurrences the unciphered hot words cover


def cipher_table(replica: int) -> dict:
    if replica == 0:
        return {}
    rng = np.random.default_rng(1000 + replica)
    lower = list("abcdefghijklmnopqrstuvwxyz")
    perm = rng.permutation(26)
    tbl = {}
    for i, c in enumerate(lower):
        tbl[ord(c)] = ord(lower[perm[i]])
        tbl[ord(c.upper())] = ord(lower[perm[i]].upper())
    return tbl


WORD = re.compile(r"[A-Za-z]+")


def hot_words(texts, share: float) -> set:
    """Most frequent (lower-cased) words that together cover ``share`` of all
    word occurrences in ``texts``."""
    counts = collections.Counter(
        w.lower() for t in texts if t is not None for w in WORD.findall(t)
    )
    total, covered, hot = sum(counts.values()), 0, set()
    for w, c in counts.most_common():
        if covered >= share * total:
            break
        hot.add(w)
        covered += c
    return hot


def cipher_text(texts, table: dict, hot: set) -> list:
    """Apply the letter cipher to every word that is not in ``hot``."""

    def sub(m):
        w = m.group(0)
        return w if w.lower() in hot else w.translate(table)

    return [None if t is None else WORD.sub(sub, t) for t in texts]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/bigsf")
    ap.add_argument("--replicas", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    for t in SINGLETON:
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), f"{args.out}/{t}.parquet")
        print(f"{t}: singleton copy")

    for t, keys in KEY_SHIFTS.items():
        base = pq.read_table(f"{SRC}/{t}.parquet")
        if t == "documents":
            hot = hot_words(base.column("text").to_pylist(), HOT_SHARE)
            print(f"documents: {len(hot)} hot words stay unciphered")
        chunks = []
        for i in range(args.replicas):
            tb = base
            for k in keys:
                col = tb.column(k)
                shifted = pa.compute.add(col, i * OFFSET).cast(col.type)
                tb = tb.set_column(tb.schema.get_field_index(k), k, shifted)
            if t == "documents" and i > 0:
                txt = cipher_text(tb.column("text").to_pylist(), cipher_table(i), hot)
                tb = tb.set_column(
                    tb.schema.get_field_index("text"), "text", pa.array(txt, pa.string())
                )
            if t == "embeddings" and i > 0:
                emb = tb.column("embedding").combine_chunks()
                flat = emb.flatten().to_numpy(zero_copy_only=False)
                offsets = emb.offsets.to_numpy(zero_copy_only=False)
                dim = int(offsets[1] - offsets[0])
                rng = np.random.default_rng(2000 + i)
                perm = rng.permutation(dim)
                mat = flat.reshape(-1, dim)[:, perm].astype(np.float32)
                new = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), pa.array(mat.ravel())
                )
                tb = tb.set_column(
                    tb.schema.get_field_index("embedding"), "embedding", new
                )
            chunks.append(tb)
        big = pa.concat_tables(chunks)
        pq.write_table(big, f"{args.out}/{t}.parquet")
        print(f"{t}: {base.num_rows} -> {big.num_rows} rows")


if __name__ == "__main__":
    main()
