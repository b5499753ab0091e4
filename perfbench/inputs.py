"""Seeded inputs: the same seed gives byte-identical parquet files.

* transcripts + conversations come from the repo's fixture generator
  (``cerberus_spark.sources.transcripts.synthesize``), whose violation
  rates are documented in FIXTURES.md;
* micro-batch epochs re-cut those transcripts so each conversation
  spans many epochs;
* documents are generated here (doc_id, text) with planted
  near-duplicates, so the band-store probe has pairs to find.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def transcripts(out_dir: str, n_rows: int, seed: int) -> tuple[str, str]:
    from cerberus_spark.sources.transcripts import synthesize

    os.makedirs(out_dir, exist_ok=True)
    t, c = synthesize(n_rows, seed=seed)
    tp = os.path.join(out_dir, "transcripts.parquet")
    cp = os.path.join(out_dir, "conversations.parquet")
    # small row groups keep the file splittable across scan tasks
    t.to_parquet(tp, index=False, row_group_size=50_000)
    c.to_parquet(cp, index=False)
    return tp, cp


def epochs(transcripts_path: str, out_dir: str, n_epochs: int) -> list[str]:
    """Cut the transcripts into ``n_epochs`` equal files, ordered by each
    row's position within its conversation: epoch k holds the k-th
    slice of turn positions, so a conversation spans many epochs and
    every epoch probes keys that earlier epochs committed."""
    t = pq.read_table(transcripts_path).to_pandas()
    pos = t.groupby("conv_id", sort=False).cumcount().to_numpy()
    order = np.lexsort((np.arange(len(t)), pos))
    t = t.iloc[order].reset_index(drop=True)
    bounds = np.linspace(0, len(t), n_epochs + 1).astype(int)
    paths = []
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_epochs):
        p = os.path.join(out_dir, f"epoch-{k:04d}.parquet")
        t.iloc[bounds[k]:bounds[k + 1]].to_parquet(p, index=False)
        paths.append(p)
    return paths


_VOCAB_SIZE = 400


def documents(out_dir: str, n_docs: int, seed: int,
              dup_frac: float = 0.08, ref_share: float = 0.3) -> tuple[str, str]:
    """``n_docs`` documents (doc_id, text) of 60-120 words over a
    400-word vocabulary, about 1% of them empty.  A ``dup_frac`` share
    are near-copies of an earlier document, with one word appended or
    the last word replaced, so a copy and its source share a shingle
    Jaccard of about 0.97 or more.  At that similarity the band store's
    LSH stage (8 bands of 4 minhashes) misses a pair with probability
    below 1e-8, so its output can be compared with an exact twin;
    unrelated documents share almost no word 3-shingles.

    A seeded hash of doc_id puts ``ref_share`` of the documents in the
    reference file, the rest in the new file.  Returns (reference path,
    new path)."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:03d}" for i in range(_VOCAB_SIZE)], dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        src = texts[int(rng.integers(0, i))].split() if i else []
        if src and rng.random() < dup_frac:
            word = vocab[int(rng.integers(0, _VOCAB_SIZE))]
            if rng.random() < 0.5:
                src.append(word)
            else:
                src[-1] = word
            texts.append(" ".join(src))
        elif rng.random() < 0.01:
            texts.append("")
        else:
            texts.append(" ".join(rng.choice(vocab,
                                             size=int(rng.integers(60, 121)))))
    # shuffled ids interleave copies and originals
    ids = rng.permutation(n_docs).astype(np.int64)
    salt = np.uint64(seed * 0xBF58476D1CE4E5B9 % 2**64)
    h = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) ^ salt
    h ^= h >> np.uint64(29)
    is_ref = (h % np.uint64(1000)) < np.uint64(int(ref_share * 1000))
    df = pd.DataFrame({"doc_id": ids, "text": texts}).sort_values("doc_id")
    is_ref = is_ref[df.index.to_numpy()]
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, part in (("reference", df[is_ref]), ("new", df[~is_ref])):
        p = os.path.join(out_dir, f"documents_{name}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), p)
        paths.append(p)
    return paths[0], paths[1]
