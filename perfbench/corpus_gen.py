"""Seeded transcript corpus and query generation for the benchmark.

Rows have the ``conv_id, turn_idx, role, text, tool, ts`` shape of
:mod:`bleve_spark.corpus` and draw their words the same way: a Zipfian
(``u**3``) pick over the common words plus ``wNNNN`` filler, light
capitalisation and punctuation, and rare ``marker_NNN`` terms.  Two
things differ, both so one run fits the benchmark's time budget and
both recorded in ``BENCHMARK.json``: the seed is an argument that
changes every row, and the vocabulary size is a parameter (merge cost
grows with the number of distinct terms per output segment).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bleve_spark import corpus as C

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _h(seed: int, *parts) -> np.ndarray:
    acc = np.uint64(seed & 0xFFFFFFFF)
    for p in parts:
        p = np.asarray(p, dtype=np.uint64)
        acc = C._mix((acc * np.uint64(1000003) + p) & _MASK)
    return acc


def conv_rows(seed: int, conv_idx: np.ndarray,
              vocab: np.ndarray) -> pd.DataFrame:
    """All turns of the given conversations; a pure function of
    ``(seed, conv index, vocab)``."""
    nturns = 1 + (_h(seed, conv_idx, 7) % np.uint64(32)).astype(np.int64)
    c = np.repeat(conv_idx, nturns)
    t = np.concatenate([np.arange(n) for n in nturns])
    n = len(c)
    role = C._ROLES[(t + (_h(seed, c, 11) % np.uint64(4)).astype(np.int64))
                    % 4]
    htool = _h(seed, c, t, 13)
    u = C._uniform(htool)
    tools = np.array(C._TOOLS16, dtype=object)[
        (htool % np.uint64(16)).astype(np.int64)]
    tool = np.where(u < 0.6, None, np.where(
        u < 0.92, np.where(u < 0.76, "grep", "bash"), tools))
    ts = (
        C._EPOCH_2026
        + (_h(seed, c, 17) % np.uint64(1000)).astype("timedelta64[h]")
        + (t * 30).astype("timedelta64[s]")
    )

    nwords = 5 + (_h(seed, c, t, 19) % np.uint64(40)).astype(np.int64)
    row_of_word = np.repeat(np.arange(n), nwords)
    j = np.concatenate([np.arange(k) for k in nwords])
    hw = _h(seed, c[row_of_word], t[row_of_word], j, 23)
    widx = np.minimum((C._uniform(hw) ** 3 * len(vocab)).astype(np.int64),
                      len(vocab) - 1)
    words = vocab[widx]
    style = (hw % np.uint64(100)).astype(np.int64)
    words = np.where(style < 6, np.char.capitalize(words.astype(str)),
                     words)
    words = np.where((style >= 6) & (style < 9),
                     np.char.add(words.astype(str), ","), words)
    words = np.where((style >= 9) & (style < 12),
                     np.char.add(words.astype(str), "."), words)
    hm = _h(seed, c, t, 29)
    marker = np.where(
        hm % np.uint64(37) == np.uint64(3),
        np.char.add(" marker_", np.char.zfill(
            ((hm >> np.uint64(8)) % np.uint64(100)).astype(str), 3)),
        "",
    )
    bounds = np.cumsum(nwords)[:-1]
    texts = [" ".join(ws) for ws in np.split(words.astype(str), bounds)]
    texts = [s + m for s, m in zip(texts, marker)]
    return pd.DataFrame({
        "conv_id": np.array([f"conv{int(i):08d}" for i in c],
                            dtype=object),
        "turn_idx": t.astype(np.int32),
        "role": role,
        "text": np.array(texts, dtype=object),
        "tool": tool,
        "ts": pd.Series(ts),
    })


def write_corpus(seed: int, n_convs: int, n_files: int, vocab_size: int,
                 out_dir: str) -> tuple[list[str], pd.DataFrame]:
    """Write ``n_files`` parquet files; returns (paths, all rows)."""
    vocab = np.array(C._build_vocab(vocab_size), dtype=object)
    os.makedirs(out_dir, exist_ok=True)
    paths, frames = [], []
    for i, part in enumerate(np.array_split(
            np.arange(n_convs, dtype=np.int64), n_files)):
        pdf = conv_rows(seed, part, vocab)
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       path)
        paths.append(path)
        frames.append(pdf)
    return paths, pd.concat(frames, ignore_index=True)
