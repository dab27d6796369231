"""Token codec: pre-tokenized sequences <-> time-series values.

The engine's primary input is a table of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``
(BASELINE.json input_hint).  The decode is deterministic and positional:

- ``ts[i] = 2015-01-01 + i * 5 days`` (Sentinel-2-like revisit cadence;
  the reference's history periods are multi-year slices of such series,
  /root/reference/tests/integration_tests/conftest.py:38-39)
- token ``-1`` is the reserved gap token (cloud-masked obs -> NULL/NaN)
- value token t decodes to ``t / 10000.0`` (NDVI-like [-1, 1] range)

Both a Catalyst (column-expression) decode for relational pipelines and a
numpy decode for inside grouped UDFs are provided; they agree bit-exactly
because both compute ``int / 10000.0`` in float64.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

GAP_TOKEN = -1
SCALE = 10000.0
EPOCH_DATE = "2015-01-01"
EPOCH_DAY = 16436  # days from 1970-01-01 to 2015-01-01
CADENCE_DAYS = 5


def decode_long(tokens_df: DataFrame) -> DataFrame:
    """tokens table -> long form ``(doc_id, source, pos, ts, value)``.

    Pure Catalyst: posexplode + arithmetic; gap tokens become NULL.  The
    explode multiplies rows by n_tok, so downstream aggregations should
    project only needed columns (Catalyst prunes the rest).
    """
    return (
        tokens_df
        .select("doc_id", "source", F.posexplode("tokens").alias("pos", "token"))
        .withColumn("ts", F.expr(
            f"timestamp(date_add(date'{EPOCH_DATE}', pos * {CADENCE_DAYS}))"))
        .withColumn("value", F.when(F.col("token") == GAP_TOKEN, F.lit(None))
                    .otherwise(F.col("token") / F.lit(SCALE)))
        .drop("token")
    )


def token_array(toks, dtype=np.int64) -> np.ndarray:
    """One row's ``tokens`` as a 1-D array; a NULL row is an empty
    series.  Every numpy token decoder reads rows through this."""
    return np.asarray([] if toks is None else toks, dtype=dtype)


def tokens_to_matrix(token_lists, max_len: int | None = None) -> np.ndarray:
    """Stack per-row token arrays into the reference's (M, K) float64 matrix.

    Shorter series are right-padded with NaN; gap tokens decode to NaN;
    a NULL row is an all-NaN column.  This reproduces the reference's
    vectorization axis (nrt/monitor/__init__.py:192) inside a grouped UDF.
    """
    token_lists = [token_array(t, np.float64) for t in token_lists]
    K = len(token_lists)
    M = max_len or (max((len(t) for t in token_lists), default=0))
    y = np.full((M, K), np.nan, dtype=np.float64)
    for k, a in enumerate(token_lists):
        a[a == GAP_TOKEN] = np.nan
        y[: len(a), k] = a / SCALE
    return y


def grid_days(n: int) -> np.ndarray:
    """Days-since-epoch for positions 0..n-1 of the decode grid."""
    return EPOCH_DAY + CADENCE_DAYS * np.arange(n, dtype=np.int64)


EOS_TOKEN = -2
PAD_TOKEN = -3


def pack_sequences(tokens_df: DataFrame, seq_len: int = 512,
                   num_shards: int = 64) -> DataFrame:
    """Concat-and-chunk sequence packing: the training-data step that
    turns variable-length token documents into fixed-length model rows.

    Contract (fully deterministic, any partitioning):
    - each doc goes to shard ``pmod(xxhash64(doc_id), num_shards)``;
    - within a shard, docs are concatenated in doc_id order with one
      ``EOS_TOKEN`` after each doc, then chunked into ``seq_len`` rows;
    - the final partial chunk is right-padded with ``PAD_TOKEN``.

    Scale shape: ONE shuffle on the shard key, then a grouped-map pandas
    UDF whose per-group work is pure numpy concatenate/reshape.  Packing
    is embarrassingly parallel across shards; global-order packing would
    serialize, which is why real pipelines pack per shard.

    Returns:
        (shard int, pack_idx long, tokens array<int>, n_real int) —
        ``n_real`` counts non-pad positions.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    def pack_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["shard", "pack_idx", "tokens",
                                         "n_real"])
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        streams = []
        for t in pdf["tokens"]:
            streams.append(np.asarray(t, dtype=np.int32))
            streams.append(np.array([EOS_TOKEN], dtype=np.int32))
        flat = np.concatenate(streams)
        n_real = len(flat)
        pad = (-n_real) % seq_len
        flat = np.concatenate([flat, np.full(pad, PAD_TOKEN,
                                             dtype=np.int32)])
        packs = flat.reshape(-1, seq_len)
        reals = np.full(len(packs), seq_len, dtype=np.int32)
        if pad:
            reals[-1] = seq_len - pad
        return pd.DataFrame({
            "shard": np.full(len(packs), shard, dtype=np.int32),
            "pack_idx": np.arange(len(packs), dtype=np.int64),
            "tokens": list(packs),
            "n_real": reals,
        })

    sharded = tokens_df.select("doc_id", "tokens").withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(num_shards)).cast("int"))
    return sharded.groupBy("shard").applyInPandas(
        pack_fn,
        "shard int, pack_idx long, tokens array<int>, n_real int")


def values_to_tokens(values: np.ndarray) -> np.ndarray:
    """Inverse decode: float values -> int32 tokens (NaN -> gap token).

    Round-trips exactly for tokens produced by the generator because the
    decode divides by a power-of-ten constant in float64.
    """
    out = np.where(np.isnan(values), GAP_TOKEN,
                   np.rint(np.nan_to_num(values) * SCALE)).astype(np.int32)
    return out
