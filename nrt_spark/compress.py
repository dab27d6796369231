"""Spark wrappers for the Gorilla codec: tier tables <-> compressed blocks.

One compressed block per (doc_id, tier): ``(doc_id, n_points, ts_block,
val_block)``.  Encoding happens in a *scalar arrow-batched pandas UDF*
over pre-collected per-series point arrays — one Python call per Arrow
batch of series, no per-row Python in the Spark plan.  Both directions
call the batched codecs of :mod:`nrt_spark.gorilla` (float XOR values,
or the scaled-int format on the read path); this module holds no codec
of its own.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from nrt_spark.gorilla import (
    decode_float_streams,
    decode_int_streams,
    decode_scaled_streams,
    encode_float_streams,
    encode_int_streams,
)

_BLOCK_SCHEMA = "ts_block binary, val_block binary, n_points int"
_udf_cache: dict = {}


def _compress_udf():
    """Lazily-built pandas UDF (schema parsing needs an active session).

    Receives ts/value as separate Arrow list columns (already sorted and
    converted to epoch seconds JVM-side), so the only per-point work in
    Python is the codec's own bit loop.
    """
    if "compress" not in _udf_cache:
        @F.pandas_udf(_BLOCK_SCHEMA)
        def _compress_points(ts_arr: pd.Series, val_arr: pd.Series
                             ) -> pd.DataFrame:
            import numpy as np

            # batched encoders: every block of the Arrow batch in one
            # set of numpy passes
            ts_streams = [np.asarray(s, dtype=np.int64) for s in ts_arr]
            val_streams = [np.asarray(v, dtype=np.float64)
                           for v in val_arr]
            return pd.DataFrame({
                "ts_block": encode_int_streams(ts_streams),
                "val_block": encode_float_streams(val_streams),
                "n_points": [len(s) for s in ts_streams],
            })

        _udf_cache["compress"] = _compress_points
    return _udf_cache["compress"]


def _decompress_batches(batches, int_scale: float | None = None):
    """mapInPandas body: batched decode (every block of the Arrow batch
    in one set of numpy passes — the read-path twin of
    encode_*_streams), then straight to LONG form with repeat/concat.
    No per-point Python, no list columns, no downstream explode.

    ``int_scale``: decode value blocks written in the scaled-int
    format (:func:`nrt_spark.gorilla.decode_scaled_streams`) instead of
    float XOR."""
    import numpy as np

    for pdf in batches:
        if not len(pdf):
            continue
        ts = decode_int_streams([bytes(b) for b in pdf["ts_block"]])
        val_blobs = [bytes(b) for b in pdf["val_block"]]
        vals = (decode_float_streams(val_blobs) if int_scale is None
                else decode_scaled_streams(val_blobs, int_scale))
        lens = np.array([len(t) for t in ts], dtype=np.int64)
        yield pd.DataFrame({
            "doc_id": np.repeat(pdf["doc_id"].to_numpy(), lens),
            "ts": (np.concatenate(ts) if lens.sum()
                   else np.array([], dtype=np.int64)),
            "value": (np.concatenate(vals) if lens.sum()
                      else np.array([], dtype=np.float64)),
        })


def compress_tier(rollup_df: DataFrame, value_col: str = "mean") -> DataFrame:
    """Rollup tier -> one Gorilla block per doc_id.

    The per-doc point list is assembled with ``sort_array(collect_list)``
    (Catalyst), so the UDF sees ts-sorted points without a window sort.
    """
    pts = (
        rollup_df
        .select("doc_id", F.struct(F.col("bucket_start"),
                                   F.col(value_col).alias("value")).alias("p"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("p")).alias("pts"))
        # split into primitive arrays JVM-side: the UDF gets numpy
        # int64/float64 arrays straight from Arrow, zero per-point Python
        # outside the codec
        .select("doc_id",
                F.expr("transform(pts, p -> unix_seconds(p.bucket_start))")
                .alias("ts_arr"),
                F.expr("transform(pts, p -> p.value)").alias("val_arr"))
    )
    return (
        pts.select("doc_id", _compress_udf()("ts_arr", "val_arr").alias("b"))
        .select("doc_id", "b.ts_block", "b.val_block", "b.n_points",
                (F.length("b.ts_block") + F.length("b.val_block"))
                .alias("n_bytes"))
    )


def decompress_tier(blocks_df: DataFrame,
                    int_scale: float | None = None) -> DataFrame:
    """Inverse of :func:`compress_tier` (and of the scaled-int archive
    when ``int_scale`` matches the one used at write time): blocks ->
    (doc_id, bucket_start, value) long form, exploded inside the Arrow
    batch (numpy repeat/concatenate), not by a JVM explode over list
    columns."""
    import functools

    body = functools.partial(_decompress_batches, int_scale=int_scale)
    out = blocks_df.select("doc_id", "ts_block", "val_block").mapInPandas(
        body, "doc_id string, ts long, value double")
    return out.select(
        "doc_id", F.col("ts").cast("timestamp").alias("bucket_start"),
        "value")


def compression_stats(blocks_df: DataFrame) -> dict:
    """{total_points, total_bytes, bytes_per_point} for a block table."""
    row = blocks_df.agg(
        F.sum("n_points").alias("pts"), F.sum("n_bytes").alias("bts")
    ).collect()[0]
    pts = row["pts"] or 0
    bts = row["bts"] or 0
    return {"total_points": int(pts), "total_bytes": int(bts),
            "bytes_per_point": (bts / pts) if pts else float("nan")}
