"""Zero-shuffle rollup + compression over the token table.

The token layout keys the whole series into one row, i.e. the data is
already *perfectly partitioned by doc_id*.  The generic tier pipeline
(explode -> shuffle -> groupBy -> collect_list -> encode) therefore does
two full shuffles it doesn't need.  This operator computes every tier's
buckets AND the Gorilla blocks in a single ``mapInPandas`` pass:

    scan -> [decode + bucket + aggregate + encode] -> write

No exchange anywhere in the plan; scaling is limited only by input
splits, which is exactly the property that survives a 1000-executor /
100 TB scale-up.  Bucket values are bit-identical to the Catalyst tier
path (same left-to-right fold per bucket; verified in tests).  The
blocks come from the batched encoders of :mod:`nrt_spark.gorilla`: float
XOR values by default, the scaled-int format with ``int_scale``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from nrt_spark.tokens import (CADENCE_DAYS, EPOCH_DAY, GAP_TOKEN, SCALE,
                              token_array)

BLOCKS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("n_points", T.IntegerType(), False),
    T.StructField("ts_block", T.BinaryType(), False),
    T.StructField("val_block", T.BinaryType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
])


def _bucket_starts(days: np.ndarray, tier: str) -> np.ndarray:
    """Tier bucket start (days since epoch) for each observation day.

    Matches Spark's ``date_trunc``: 'week' is ISO Monday-start
    (1970-01-01 was a Thursday, hence the +3 phase), 'month' via
    datetime64[M] truncation.
    """
    if tier == "day":
        return days
    if tier == "week":
        return days - (days + 3) % 7
    if tier == "month":
        d = days.astype("datetime64[D]")
        return d.astype("datetime64[M]").astype("datetime64[D]").astype(np.int64)
    raise ValueError(tier)


def _tier_points(days: np.ndarray, values: np.ndarray, tier: str):
    """(bucket_start_days, mean) per bucket, NaN-aware, with the same
    left-to-right fold order as the Catalyst partial aggregation."""
    starts = _bucket_starts(days, tier)
    # days ascending -> starts ascending; segment id per observation.
    # np.bincount accumulates strictly in input order (unlike
    # add.reduceat's pairwise tree), which is what makes the sums
    # bit-identical to Catalyst's sequential partial-aggregate fold.
    seg = np.concatenate(([0], np.cumsum(np.diff(starts) != 0)))
    nseg = int(seg[-1]) + 1 if len(seg) else 0
    bucket_days = starts[np.concatenate(([True], np.diff(starts) != 0))]
    valid = ~np.isnan(values)
    vz = np.where(valid, values, 0.0)
    sums = np.bincount(seg, weights=vz, minlength=nseg)
    cnts = np.bincount(seg, weights=valid.astype(np.float64),
                       minlength=nseg)
    with np.errstate(invalid="ignore", divide="ignore"):
        means = np.where(cnts > 0, sums / cnts, np.nan)
    return bucket_days, means


def _tier_points_batch(days: np.ndarray, values: np.ndarray,
                       doc_lens: np.ndarray, tier: str):
    """Batched :func:`_tier_points` over the concatenation of many docs.

    Args:
        days/values: concatenated per-doc arrays (each doc's days
            ascending).
        doc_lens: per-doc element counts.

    Returns:
        (block_lens, bucket_days_cat, means_cat): per-doc bucket counts
        plus the concatenated bucket streams, same fold semantics as the
        per-doc version (np.bincount = sequential in input order).
    """
    from nrt_spark.gorilla import _seg_arange  # segmented arange helper

    starts = _bucket_starts(days, tier)
    doc_of = np.repeat(np.arange(len(doc_lens)), doc_lens)
    new_seg = np.empty(len(starts), dtype=bool)
    new_seg[0] = True
    new_seg[1:] = (np.diff(starts) != 0) | (np.diff(doc_of) != 0)
    seg = np.cumsum(new_seg) - 1
    nseg = int(seg[-1]) + 1 if len(seg) else 0
    bucket_days = starts[new_seg]
    valid = ~np.isnan(values)
    sums = np.bincount(seg, weights=np.where(valid, values, 0.0),
                       minlength=nseg)
    cnts = np.bincount(seg, weights=valid.astype(np.float64),
                       minlength=nseg)
    with np.errstate(invalid="ignore", divide="ignore"):
        means = np.where(cnts > 0, sums / cnts, np.nan)
    block_lens = np.bincount(doc_of[new_seg], minlength=len(doc_lens))
    return block_lens, bucket_days, means


def rollup_compress_tokens(tokens_df: DataFrame,
                           tiers: tuple = ("day", "week", "month"),
                           int_scale: float | None = None) -> DataFrame:
    """tokens -> per-(doc, tier) Gorilla blocks of bucket means, in one
    shuffle-free pass.

    ``int_scale``: when set, value blocks use the scaled-int format
    (:func:`nrt_spark.gorilla.encode_scaled_streams`) instead of float
    XOR (lossy at 1/int_scale resolution — exact when the input values
    are quantized at or below that resolution, e.g. day-tier means of
    token data with ``int_scale >= SCALE * max bucket size``).  A NULL
    ``tokens`` row is an empty series and yields no blocks.
    """
    tiers = tuple(tiers)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nrt_spark.gorilla import (_seg_arange, encode_float_streams,
                                       encode_int_streams,
                                       encode_scaled_streams)

        for pdf in batches:
            tok_arrays = [token_array(t, np.float64) for t in pdf["tokens"]]
            keep = [i for i, t in enumerate(tok_arrays) if len(t)]
            if not keep:
                continue
            docs = pdf["doc_id"].to_numpy()[keep]
            doc_lens = np.array([len(tok_arrays[i]) for i in keep])
            toks = np.concatenate([tok_arrays[i] for i in keep])
            values = np.where(toks == GAP_TOKEN, np.nan, toks / SCALE)
            days = EPOCH_DAY + CADENCE_DAYS * _seg_arange(doc_lens)
            out = {k: [] for k in BLOCKS_SCHEMA.names}
            for tier in tiers:
                block_lens, bdays, means = _tier_points_batch(
                    days, values, doc_lens, tier)
                splits = np.cumsum(block_lens)[:-1]
                mean_streams = np.split(means, splits)
                vbs = (encode_float_streams(mean_streams) if int_scale is None
                       else encode_scaled_streams(mean_streams, int_scale))
                tbs = encode_int_streams(np.split(bdays * 86400, splits))
                out["doc_id"] += list(docs)
                out["tier"] += [tier] * len(tbs)
                out["n_points"] += [int(x) for x in block_lens]
                out["ts_block"] += tbs
                out["val_block"] += vbs
                out["n_bytes"] += [len(a) + len(b) for a, b in zip(tbs, vbs)]
            yield pd.DataFrame(out)

    return tokens_df.select("doc_id", "tokens").mapInPandas(
        run, BLOCKS_SCHEMA)
