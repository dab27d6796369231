"""Zero-shuffle fast path must be bit-identical to the Catalyst tier
pipeline + compress path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nrt_spark.datagen import generate_tokens
from nrt_spark.tokens import decode_long
from nrt_spark.rollup import rollup_tiers
from nrt_spark.compress import compress_tier, decompress_tier
from nrt_spark.fastpath import rollup_compress_tokens


@pytest.fixture(scope="module")
def tokens(spark):
    df = generate_tokens(spark, 30, n_obs=146).cache()
    df.count()
    return df


def _assert_blocks_match_catalyst(tokens):
    fast = rollup_compress_tokens(tokens).cache()
    tiers = rollup_tiers(decode_long(tokens))
    for tier, df in tiers.items():
        slow_blocks = compress_tier(df, value_col="mean")
        a = (slow_blocks.select("doc_id", "ts_block", "val_block", "n_points")
             .toPandas().sort_values("doc_id").reset_index(drop=True))
        b = (fast.filter(F.col("tier") == tier)
             .select("doc_id", "ts_block", "val_block", "n_points")
             .toPandas().sort_values("doc_id").reset_index(drop=True))
        assert list(a["doc_id"]) == list(b["doc_id"]), tier
        np.testing.assert_array_equal(a["n_points"].to_numpy(),
                                      b["n_points"].to_numpy(), err_msg=tier)
        for col in ("ts_block", "val_block"):
            same = [bytes(x) == bytes(y) for x, y in zip(a[col], b[col])]
            assert all(same), f"{tier}.{col}: {same.count(False)} differ"
    return fast


def test_fastpath_matches_catalyst_path(spark, tokens):
    _assert_blocks_match_catalyst(tokens)


def test_null_tokens_row_is_empty_series(spark):
    """A NULL ``tokens`` row is an empty series in every numpy token
    decoder: the block and LTTB fastpaths skip it exactly like their
    Catalyst twins (posexplode of NULL yields no rows), and the fit
    returns it as a too-short series — also when it is alone in its
    bucket."""
    import pandas as pd

    from nrt_spark.engine import NrtEngine, fit_bucket
    from nrt_spark.kernels.monitors import MASK_TOO_SHORT
    from nrt_spark.rollup import lttb_downsample, lttb_downsample_tokens

    base = generate_tokens(spark, 12, n_obs=60)
    null_row = base.limit(1).select(
        F.lit("doc_null").alias("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(0).alias("n_tok"), "source")
    df = base.unionByName(null_row).cache()
    assert df.where(F.col("tokens").isNull()).count() == 1

    fast = _assert_blocks_match_catalyst(df)
    assert fast.where(F.col("doc_id") == "doc_null").count() == 0
    a = (lttb_downsample(decode_long(df), n_out=10).toPandas()
         .sort_values(["doc_id", "ts"]).reset_index(drop=True))
    b = (lttb_downsample_tokens(df, n_out=10).toPandas()
         .sort_values(["doc_id", "ts"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert "doc_null" not in set(b["doc_id"])

    eng = NrtEngine(spark, "ewma", num_buckets=4, trend=False,
                    sensitivity=7.0)
    st = eng.fit(df, history_end="2015-06-30").toPandas()
    assert len(st) == 13
    assert st.loc[st["doc_id"] == "doc_null", "mask"].tolist() == \
        [MASK_TOO_SHORT]
    alone = fit_bucket(pd.DataFrame({"doc_id": ["doc_null"],
                                     "tokens": [None]}),
                       0, eng.params, None)
    assert alone["mask"].tolist() == [MASK_TOO_SHORT]


def test_fastpath_plan_has_no_exchange(spark, tokens):
    fast = rollup_compress_tokens(tokens)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_fastpath_decodes_back(spark, tokens):
    fast = rollup_compress_tokens(tokens, tiers=("week",))
    back = decompress_tier(fast.select("doc_id", "ts_block", "val_block"))
    week = rollup_tiers(decode_long(tokens))["week"]
    a = back.withColumnRenamed("value", "rt")
    j = a.join(week.select("doc_id", "bucket_start",
                           F.col("mean").alias("ov")),
               ["doc_id", "bucket_start"], "full")
    # NaN means (all-gap buckets) come back as NULL through Arrow —
    # both NULL is a match; any one-sided NULL or value difference fails
    bad = j.filter("(rt IS NULL) <> (ov IS NULL) OR rt <> ov")
    assert bad.count() == 0


def test_int_codec_day_tier_exact_and_small(spark, tokens):
    """Day-tier means of token data are exact multiples of 1/SCALE (one
    obs per day bucket), so the scaled-int codec is lossless there and
    far smaller than float XOR."""
    from nrt_spark.gorilla import decode_scaled_streams, decode_values
    from nrt_spark.tokens import SCALE

    fx = rollup_compress_tokens(tokens, tiers=("day",), int_scale=SCALE) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    ff = rollup_compress_tokens(tokens, tiers=("day",)) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    # exact round-trip vs the float path's decoded means
    vis = decode_scaled_streams([bytes(b) for b in fx["val_block"]], SCALE)
    for i, vi in enumerate(vis):
        vf = decode_values(bytes(ff["val_block"][i]))
        np.testing.assert_array_equal(np.isnan(vi), np.isnan(vf))
        np.testing.assert_array_equal(vi[~np.isnan(vi)], vf[~np.isnan(vf)])
    bpp_int = fx["n_bytes"].sum() / fx["n_points"].sum()
    bpp_flt = ff["n_bytes"].sum() / ff["n_points"].sum()
    assert bpp_int < bpp_flt / 2, (bpp_int, bpp_flt)


def test_quantized_archive_spark_read_path(spark):
    """The scaled-int archive round-trips through the SPARK reader:
    decompress_tier(int_scale=...) recovers exactly the quantized day
    means the writer quantized (gap buckets -> NaN)."""
    from nrt_spark.compress import decompress_tier
    from nrt_spark.rollup import rollup_raw

    toks = generate_tokens(spark, 80, n_obs=60)
    blocks = rollup_compress_tokens(toks, tiers=("day",),
                                    int_scale=10000.0)
    back = (decompress_tier(blocks, int_scale=10000.0)
            .withColumnRenamed("value", "rt"))
    orig = (rollup_raw(decode_long(toks), "day")
            .select("doc_id", "bucket_start", F.col("mean").alias("ov")))
    joined = back.join(orig, ["doc_id", "bucket_start"], "full").toPandas()
    assert len(joined) == back.count() == orig.count()
    rt = joined["rt"].to_numpy(float)
    ov = joined["ov"].to_numpy(float)
    # day tier at 5-day cadence: means are 4-decimal values, so the
    # 1e4-scaled int codec is lossless here
    assert bool(np.all((rt == ov) | (np.isnan(rt) & np.isnan(ov))))
