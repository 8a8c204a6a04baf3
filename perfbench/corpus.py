"""Seeded inputs for the benchmark workloads.

Everything here is generated from the workload seed alone; the engine
receives only the finished inputs. The transcripts corpus follows the
engine's synthetic shape (``w<rank>`` tokens with a Zipf s~1 rank
distribution, an injected ``table scan merge policy`` phrase in ~1/64
of rows, four roles, 200 tools with 1/5 missing) but is produced by
this file's own generator, so a change to the engine's generator does
not silently change the benchmark's inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PHRASE = ("table", "scan", "merge", "policy")
ROLES = ("user", "assistant", "system", "tool")
VOCAB = 50_000
TURNS_PER_CONV = 16


def transcripts(seed: int, n_turns: int, vocab: int = VOCAB) -> pd.DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts), sorted by conversation."""
    rng = np.random.default_rng(seed)
    doc_len = (5 + np.floor(rng.random(n_turns) ** 2 * 195)).astype(np.int64)
    ranks = np.exp(rng.random(int(doc_len.sum())) * np.log(vocab)).astype(np.int64)
    words = np.array([f"w{r}" for r in range(vocab + 1)], dtype=object)[ranks]
    ends = np.cumsum(doc_len)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends.tolist(), doc_len.tolist())]
    for i in np.nonzero(rng.random(n_turns) < 1 / 64)[0].tolist():
        texts[i] += " " + " ".join(PHRASE)
    conv = np.arange(n_turns) // TURNS_PER_CONV
    tool_ix = rng.integers(0, 200, n_turns)
    tool = np.array([f"tool_{t}" for t in tool_ix], dtype=object)
    tool[tool_ix % 5 == 0] = None
    return pd.DataFrame({
        "conv_id": [f"c{seed}_{c:06d}" for c in conv],
        "turn_idx": (np.arange(n_turns) % TURNS_PER_CONV).astype(np.int32),
        "role": np.array(ROLES, dtype=object)[rng.integers(0, 4, n_turns)],
        "text": texts,
        "tool": tool,
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(conv * 3600 + np.arange(n_turns) % TURNS_PER_CONV * 30, unit="s"),
    })


def write_parts(pdf: pd.DataFrame, out_dir: str, n_parts: int) -> None:
    """Write ``pdf`` as ``n_parts`` conversation-contiguous parquet files
    (the pre-partitioned layout: one input file becomes one segment)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(pdf), n_parts + 1).astype(int) // TURNS_PER_CONV * TURNS_PER_CONV
    bounds[-1] = len(pdf)
    for i in range(n_parts):
        part = pa.Table.from_pandas(pdf.iloc[bounds[i]:bounds[i + 1]], preserve_index=False)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"),
                       coerce_timestamps="us")


def documents(seed: int, n_docs: int, vocab: int = 48) -> pd.DataFrame:
    """(doc_id, text) sample for the dedup operators. A small vocabulary,
    as in the engine's ``documents`` fixture tables, so trigram shingles
    are shared between documents and candidate generation has work."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 60, n_docs)
    words = np.array([f"t{i}" for i in range(vocab)], dtype=object)
    p = 1.0 / np.arange(1, vocab + 1)
    toks = rng.choice(words, size=int(lens.sum()), p=p / p.sum())
    ends = np.cumsum(lens)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": [" ".join(toks[e - n:e]) for e, n in zip(ends.tolist(), lens.tolist())],
    })


def df_bands(pdf: pd.DataFrame) -> dict[str, list[str]]:
    """The corpus's own vocabulary split by document frequency, each band
    in df order: head (df above n/50), mid (df between n/200 and n/50)
    and tail (df 2-6). Phrase-fixture words are left out of every band."""
    toks = pdf["text"].str.split().map(set).explode()
    df = toks.value_counts()
    df = df[~df.index.isin(PHRASE)].sort_values(ascending=False, kind="mergesort")
    n = len(pdf)
    return {
        "head": list(df.index[df > n / 50]),
        "mid": list(df.index[(df >= n / 200) & (df <= n / 50)]),
        "tail": list(df.index[(df >= 2) & (df <= 6)]),
    }
