"""Gorilla codec round-trip + compression-ratio properties (no Spark)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from nrt_spark import gorilla as g


def test_timestamps_regular_grid():
    ts = np.arange(0, 86400 * 365, 86400, dtype=np.int64)
    blob = g.encode_timestamps(ts)
    np.testing.assert_array_equal(g.decode_timestamps(blob), ts)
    # regular grid: ~1 bit/step after the header
    assert len(blob) < 4 + 8 + 4 + len(ts) // 8 + 8


def test_timestamps_irregular():
    rng = np.random.RandomState(0)
    ts = np.cumsum(rng.randint(1, 10_000_000, size=500)).astype(np.int64)
    np.testing.assert_array_equal(
        g.decode_timestamps(g.encode_timestamps(ts)), ts)


def test_values_roundtrip_with_nan():
    rng = np.random.RandomState(1)
    v = np.round(rng.normal(0.5, 0.1, 300), 4)
    v[::17] = np.nan
    out = g.decode_values(g.encode_values(v))
    np.testing.assert_array_equal(v.view(np.uint64), out.view(np.uint64))


def test_values_constant_series_compresses_hard():
    v = np.full(1000, 0.4321)
    blob = g.encode_values(v)
    # 1 bit per repeated value
    assert len(blob) < 4 + 8 + 1000 // 8 + 8


@pytest.mark.parametrize("n", [0, 1, 2])
def test_tiny_blocks(n):
    """The production (batched) codec on blocks too short to batch."""
    ts = np.arange(n, dtype=np.int64) * 60
    v = np.linspace(0, 1, n)
    [t2] = g.decode_int_streams(g.encode_int_streams([ts]))
    [v2] = g.decode_float_streams(g.encode_float_streams([v]))
    np.testing.assert_array_equal(t2, ts)
    np.testing.assert_array_equal(v2, v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=True,
                          width=64), max_size=120))
def test_values_roundtrip_property(vals):
    v = np.array(vals, dtype=np.float64)
    out = g.decode_values(g.encode_values(v))
    np.testing.assert_array_equal(v.view(np.uint64), out.view(np.uint64))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40), min_size=0,
                max_size=120))
def test_timestamps_roundtrip_property(ts_list):
    ts = np.array(sorted(ts_list), dtype=np.int64)
    np.testing.assert_array_equal(
        g.decode_timestamps(g.encode_timestamps(ts)), ts)


#: sha256 of the concatenated batched-encoder output on the seed-5
#: corpus below.  The int digest is implied by the per-block equality
#: with encode_timestamps; the float one pins the static-window XOR
#: byte format, which the greedy encode_values does not share.
INT_STREAMS_SHA256 = \
    "08b7211235728f2254ac18e05a88ac07dab01ea122de56cf33169a753a3623be"
FLOAT_STREAMS_SHA256 = \
    "485d9c065a3d349a435923f063726860e7a717866572f3fbc0e9bcd562357a65"


def test_batch_encoders_byte_equal_per_block():
    """encode_int_streams is byte-identical to per-block
    encode_timestamps, both batched encoders keep their pinned byte
    format, and the per-point decoders invert them, over random blocks
    (NaN, all-identical, tiny, empty) across the 256-block chunk
    boundary."""
    rng = np.random.RandomState(5)
    ints, floats = [], []
    for k in range(600):  # > 2 chunks
        n = rng.randint(0, 180)
        ints.append(np.cumsum(rng.randint(1, 10 ** 6, size=n)).astype(np.int64)
                    - 5 * 10 ** 5 if n else np.array([], dtype=np.int64))
        v = np.round(rng.normal(0.5, 0.1, n), 4)
        if n:
            v[rng.random_sample(n) < 0.1] = np.nan
            if k % 13 == 0:
                v[:] = 0.77
        floats.append(v)
    bi = g.encode_int_streams(ints)
    bf = g.encode_float_streams(floats)
    assert hashlib.sha256(b"".join(bi)).hexdigest() == INT_STREAMS_SHA256
    assert hashlib.sha256(b"".join(bf)).hexdigest() == FLOAT_STREAMS_SHA256
    for k in range(600):
        assert bi[k] == g.encode_timestamps(ints[k]), f"int {k}"
        np.testing.assert_array_equal(g.decode_timestamps(bi[k]), ints[k])
        out = g.decode_values(bf[k])
        np.testing.assert_array_equal(out.view(np.uint64),
                                      np.asarray(floats[k]).view(np.uint64))


def test_batched_decoders_roundtrip_all_encoders():
    """decode_*_streams must invert both encoders (per-point greedy and
    batched) on fuzzed mixed-size blocks with NaNs, identical runs,
    negatives and raw-64 dods."""
    from nrt_spark.gorilla import (
        decode_float_streams, decode_int_streams, encode_float_streams,
        encode_int_streams, encode_timestamps, encode_values)

    rng = np.random.Generator(np.random.PCG64(123))
    fl, it = [], []
    for _ in range(300):
        n = int(rng.integers(0, 150))
        v = rng.standard_normal(n) * (10 ** int(rng.integers(-2, 3)))
        v[rng.random(n) < 0.1] = np.nan
        if n > 3 and rng.random() < 0.3:
            v[1:4] = v[0]
        fl.append(v)
        deltas = rng.integers(-3000, 3000, size=max(n - 1, 0))
        if n > 5 and rng.random() < 0.2:
            deltas[2] = int(rng.integers(-10 ** 9, 10 ** 9))
        ts = (int(rng.integers(-10 ** 12, 10 ** 12))
              + np.concatenate(([0], np.cumsum(deltas))).astype(np.int64)
              if n else np.array([], dtype=np.int64))
        it.append(ts)

    for blobs in ([encode_values(v) for v in fl],
                  encode_float_streams(fl)):
        for a, b in zip(fl, decode_float_streams(blobs)):
            np.testing.assert_array_equal(
                np.asarray(a, dtype=np.float64).view(np.uint64),
                b.view(np.uint64))
    for blobs in ([encode_timestamps(t) for t in it],
                  encode_int_streams(it)):
        for a, b in zip(it, decode_int_streams(blobs)):
            np.testing.assert_array_equal(a, b)


def test_batched_decode_matches_per_point():
    """Batched decode == per-point reference decode, bit for bit."""
    from nrt_spark.gorilla import (
        decode_float_streams, decode_int_streams, decode_timestamps,
        decode_values, encode_float_streams, encode_int_streams)

    rng = np.random.Generator(np.random.PCG64(9))
    fl = [np.round(rng.standard_normal(130), 4) for _ in range(50)]
    it = [np.arange(130, dtype=np.int64) * 86400 + 10 ** 9
          for _ in range(50)]
    fb, ib = encode_float_streams(fl), encode_int_streams(it)
    for blob, batched in zip(fb, decode_float_streams(fb)):
        np.testing.assert_array_equal(
            decode_values(blob).view(np.uint64), batched.view(np.uint64))
    for blob, batched in zip(ib, decode_int_streams(ib)):
        np.testing.assert_array_equal(decode_timestamps(blob), batched)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.floats(allow_nan=True, allow_infinity=True,
                                   width=64),
                         min_size=0, max_size=40),
                min_size=0, max_size=8))
def test_batched_float_decode_property(streams):
    """Hypothesis: batched decode inverts batched encode bit-for-bit on
    arbitrary float64 payloads (NaN payloads compared as bit patterns)."""
    arrs = [np.asarray(s, dtype=np.float64) for s in streams]
    blobs = g.encode_float_streams(arrs)
    for a, b in zip(arrs, g.decode_float_streams(blobs)):
        np.testing.assert_array_equal(a.view(np.uint64), b.view(np.uint64))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=-2**62, max_value=2**62),
                         min_size=0, max_size=40),
                min_size=0, max_size=8))
def test_batched_int_decode_property(streams):
    arrs = [np.asarray(s, dtype=np.int64) for s in streams]
    blobs = g.encode_int_streams(arrs)
    for a, b in zip(arrs, g.decode_int_streams(blobs)):
        np.testing.assert_array_equal(a, b)


# ---------------------------------------------------------------------------
# Scaled-int value format
# ---------------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=-10 ** 9, max_value=10 ** 9),
                         max_size=40), max_size=8),
       st.sampled_from([1.0, 100.0, 10000.0, 2 ** 20]))
def test_scaled_streams_roundtrip_property(streams, scale):
    """Values quantized at 1/scale come back exactly."""
    xs = [np.asarray(s, dtype=np.int64) / scale for s in streams]
    out = g.decode_scaled_streams(g.encode_scaled_streams(xs, scale), scale)
    assert len(out) == len(xs)
    for a, b in zip(xs, out):
        np.testing.assert_array_equal(a.view(np.uint64), b.view(np.uint64))


def test_scaled_streams_nan_empty_all_nan():
    streams = [np.array([0.5, np.nan, -0.25, np.nan]), np.array([]),
               np.full(7, np.nan), np.array([np.nan])]
    blobs = g.encode_scaled_streams(streams, 100.0)
    # NaN is stored as the sentinel on the int stream
    np.testing.assert_array_equal(
        g.decode_int_streams(blobs[:1])[0],
        [50, g.INT_NAN_SENTINEL, -25, g.INT_NAN_SENTINEL])
    out = g.decode_scaled_streams(blobs, 100.0)
    for a, b in zip(streams, out):
        np.testing.assert_array_equal(a, b)     # NaN == NaN positionally
    assert g.encode_scaled_streams([], 100.0) == []
    assert g.decode_scaled_streams([], 100.0) == []


def test_scaled_streams_day_tier_exact_and_small():
    """Day-tier means of token data are multiples of 1/SCALE (one obs
    per day bucket): the scaled-int pair returns them exactly and
    takes less than half the bytes of float XOR."""
    from nrt_spark.fastpath import _tier_points
    from nrt_spark.oracle import generate_tokens_local
    from nrt_spark.tokens import GAP_TOKEN, SCALE, grid_days

    toks = generate_tokens_local(40, n_obs=146)
    means = []
    for tok in toks["tokens"]:
        t = np.asarray(tok, dtype=np.float64)
        values = np.where(t == GAP_TOKEN, np.nan, t / SCALE)
        means.append(_tier_points(grid_days(len(t)), values, "day")[1])
    blobs = g.encode_scaled_streams(means, SCALE)
    for a, b in zip(means, g.decode_scaled_streams(blobs, SCALE)):
        np.testing.assert_array_equal(a, b)
    assert np.isnan(np.concatenate(means)).any()
    int_bytes = sum(map(len, blobs))
    float_bytes = sum(map(len, g.encode_float_streams(means)))
    assert int_bytes < float_bytes / 2, (int_bytes, float_bytes)
