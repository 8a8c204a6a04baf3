"""The ``transcripts`` input table (BASELINE.json#input_hint).

Schema: (conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp).

Two deterministic sources:

1. :func:`transcripts_from_documents` — a pure-Catalyst derivation of a
   transcripts table from the driver's ``documents.parquet``. Every
   transform is expressible identically in DuckDB
   (:data:`TRANSCRIPTS_ORACLE_CTE`), which lets every transcript query
   in ``__spark_entry__.py`` be oracle-checked end to end.

2. :func:`generate_transcripts` — a counter-based (partition-invariant)
   synthetic generator for arbitrary row counts, used by the bench and
   scaling runs. Zipf-ish vocabulary (log-uniform ranks ≈ Zipf s=1)
   produces the skewed high-DF head terms (SURVEY §7.3) whose posting
   runs every segment and every merge carries. Randomness is splitmix64 counter hashing of
   (row_id, position) — the same rows are produced regardless of
   partitioning, cluster size, or batch boundaries, which is what makes
   the N-vs-4N scaling runs byte-identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

ROLES = ["user", "assistant", "system", "tool"]

# ---------------------------------------------------------------------------
# 1. documents -> transcripts (oracle-twinned derivation)
# ---------------------------------------------------------------------------

#: DuckDB CTE computing the same table; `{sf}` substitution not needed —
#: the driver pre-registers `documents` as a view.
TRANSCRIPTS_ORACLE_CTE = """
transcripts AS (
  SELECT
    'conv' || lpad(CAST((doc_id // 8) AS VARCHAR), 8, '0') AS conv_id,
    CAST(doc_id % 8 AS INTEGER) AS turn_idx,
    CASE CAST((doc_id * 37 + 11) % 4 AS INTEGER)
      WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
      WHEN 2 THEN 'system' ELSE 'tool' END AS role,
    text,
    CASE WHEN doc_id % 5 = 0 THEN NULL
         ELSE 'tool_' || CAST((doc_id * 13 + 7) % 37 AS VARCHAR) END AS tool,
    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id * 97) SECOND AS ts
  FROM documents
)
""".strip()


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcripts table from documents.parquet, Catalyst-only.

    doc_id // 8 groups 8 consecutive docs into one conversation; all other
    columns are deterministic arithmetic on doc_id so the DuckDB oracle
    (TRANSCRIPTS_ORACLE_CTE) reproduces the table bit-for-bit.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        (F.col("doc_id") * 37 + 11).cast("int") % 4 + 1,
    )
    return docs.select(
        F.concat(
            F.lit("conv"),
            F.lpad(F.floor(F.col("doc_id") / 8).cast("long").cast("string"), 8, "0"),
        ).alias("conv_id"),
        (F.col("doc_id") % 8).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("tool_"), ((F.col("doc_id") * 13 + 7) % 37).cast("string")))
        .alias("tool"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, doc_id * 97)"
        ).alias("ts"),
    )


# ---------------------------------------------------------------------------
# 2. counter-based synthetic generator (bench / scaling corpora)
# ---------------------------------------------------------------------------

_SM64_1 = np.uint64(0x9E3779B97F4A7C15)
_SM64_2 = np.uint64(0xBF58476D1CE4E5B9)
_SM64_3 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: uint64 counter -> uint64 hash."""
    x = (x + _SM64_1).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _SM64_2
    x ^= x >> np.uint64(27)
    x *= _SM64_3
    x ^= x >> np.uint64(31)
    return x


def _u01(counter: np.ndarray) -> np.ndarray:
    """counter -> uniform float64 in [0, 1)."""
    return (_splitmix64(counter) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _gen_batch(ids: np.ndarray, seed: int, vocab_size: int, turns_per_conv: int) -> pd.DataFrame:
    """Build one batch of transcript rows from absolute row ids (uint64)."""
    n = len(ids)
    seed64 = np.uint64(seed)
    ids64 = ids.astype(np.uint64)
    # Per-row streams: counter = id * 256 + slot (len slot=255, meta slots 250-254).
    base = ids64 * np.uint64(256) + seed64 * np.uint64(0x1000000000000)
    doc_len = (5 + np.floor(_u01(base + np.uint64(255)) ** 2 * 195)).astype(np.int64)
    total = int(doc_len.sum())
    # Token counters: row_base[i] + pos, flattened.
    row_off = np.repeat(base, doc_len)
    pos = np.arange(total, dtype=np.uint64) - np.repeat(
        np.concatenate(([0], np.cumsum(doc_len)[:-1])).astype(np.uint64), doc_len
    )
    u = _u01(row_off + pos)
    # Log-uniform rank in [1, vocab_size]  => pmf ~ 1/rank (Zipf s≈1).
    ranks = np.exp(u * np.log(vocab_size)).astype(np.int64)
    words = np.char.add("w", ranks.astype("U7"))
    # Stitch tokens back into per-row strings without a Python row loop:
    # join the flat word array with spaces, then split at row boundaries.
    joined = " ".join(words.tolist())  # single C-level join
    # Compute char offsets of each row's span in `joined`.
    wlens = np.char.str_len(words) + 1  # +1 for the space
    ends = np.cumsum(wlens)
    row_end_idx = np.cumsum(doc_len) - 1
    row_ends = ends[row_end_idx] - 1  # drop trailing space
    row_starts = np.concatenate(([0], ends[row_end_idx[:-1]]))
    texts = [joined[s:e] for s, e in zip(row_starts.tolist(), row_ends.tolist())]
    # Inject a fixed phrase into ~1/64 of rows (phrase-query fixture).
    phrase_mask = (_splitmix64(base + np.uint64(254)) % np.uint64(64)) == 0
    if phrase_mask.any():
        idx = np.nonzero(phrase_mask)[0]
        for i in idx.tolist():
            texts[i] = texts[i] + " table scan merge policy"
    conv = ids64 // np.uint64(turns_per_conv)
    turn = (ids64 % np.uint64(turns_per_conv)).astype(np.int32)
    role_ix = (_splitmix64(base + np.uint64(253)) % np.uint64(4)).astype(np.int64)
    roles = np.array(ROLES, dtype=object)[role_ix]
    tool_ix = (_splitmix64(base + np.uint64(252)) % np.uint64(200)).astype(np.int64)
    tool = np.char.add("tool_", tool_ix.astype("U4")).astype(object)
    tool[tool_ix % 5 == 0] = None
    ts = pd.Timestamp("2024-01-01", tz=None) + pd.to_timedelta(
        conv.astype(np.int64) * 3600 + turn.astype(np.int64) * 30, unit="s"
    )
    return pd.DataFrame(
        {
            "conv_id": np.char.add("conv", conv.astype(np.int64).astype("U10")),
            "turn_idx": turn,
            "role": roles,
            "text": texts,
            "tool": tool,
            "ts": ts,
        }
    )


def generate_transcripts(
    spark: SparkSession,
    n_turns: int,
    seed: int = 42,
    vocab_size: int = 50_000,
    turns_per_conv: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcripts: spark.range -> mapInPandas.

    Counter-based hashing makes output independent of `partitions`, so
    local[8] and local[32] runs index the exact same corpus.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism
    rng_seed, vs, tpc = seed, vocab_size, turns_per_conv

    def gen(batches):
        for pdf in batches:
            yield _gen_batch(pdf["id"].to_numpy(), rng_seed, vs, tpc)

    return (
        spark.range(0, n_turns, numPartitions=partitions)
        .mapInPandas(gen, schema=TRANSCRIPTS_SCHEMA)
    )
