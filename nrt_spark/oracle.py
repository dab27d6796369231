"""Single-process numpy oracle for the monitor engine.

Recomputes, without a SparkSession, exactly what the distributed
fit -> monitor -> report pipeline produces on the deterministic
synthetic token table:

- seeds come from a pure-Python xxHash64 (:mod:`nrt_spark.hashing`)
  reproducing Spark's ``xxhash64(doc_id)``;
- token rows come from the same :func:`nrt_spark.datagen._gen_batch`
  the executors run (pure pandas/numpy, seed-deterministic);
- the monitor runs the shared numpy kernels over the full (M, K)
  matrix in ONE process — no bucketing, no shuffle, no Arrow.

Because the engine hash-buckets series and cogroups state with
observations, byte-equality against this oracle checks the entire
distributed plumbing (bucketing, cogrouped alignment, state round-trip,
last_day masking), not just the kernels.  The driver-facing report
queries embed this oracle's output as SQL literals so the cross-engine
harness records the comparison (see queries._report_oracle_sql).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from nrt_spark.datagen import _gen_batch
from nrt_spark.hashing import spark_xxhash64_str, spark_xxhash64_strs
from nrt_spark.kernels.monitors import fit_state, resolve_params, run_monitor
from nrt_spark.tokens import grid_days, tokens_to_matrix


def generate_tokens_local(n_docs: int, n_obs: int = 130,
                          break_frac: float = 0.5, gap_frac: float = 0.08,
                          noise: float = 0.02, bands: bool = False
                          ) -> pd.DataFrame:
    """Numpy twin of :func:`nrt_spark.datagen.generate_tokens`, source
    column included (the zipf source derives from the chained
    ``xxhash64(doc_id, 'src')``, reproduced by spark_xxhash64_strs)."""
    doc_ids = [f"doc{i:010d}" for i in range(n_docs)]
    seeds = np.array([spark_xxhash64_str(d) for d in doc_ids],
                     dtype=np.int64)
    src_u = np.array([(spark_xxhash64_strs(d, "src") % 10000) / 10000.0
                      for d in doc_ids])
    pdf = pd.DataFrame({"doc_id": doc_ids, "seed64": seeds,
                        "src_u": src_u})
    return _gen_batch(pdf, n_obs, break_frac, gap_frac, noise,
                      bands=bands, outlier_frac=0.0)


def band_ratio_checksum_oracle(n_docs: int = 200, n_obs: int = 60
                               ) -> pd.DataFrame:
    """Expected per-doc-group checksums for the band-ratio projection
    (F8: (swir-green)/(swir+green), gap token -> NULL, inf/NaN -> NULL):
    each valid (pos, ratio) contributes ``pos*31 + floor(ratio*1e6)``.
    Ratios are identical doubles in both engines (same int/1e4 decode,
    same subtract/add/divide), so the scaled floor is exact."""
    from nrt_spark.tokens import GAP_TOKEN, SCALE

    toks = generate_tokens_local(n_docs, n_obs=n_obs, bands=True)
    acc: dict = {}
    pos = np.arange(n_obs)
    for doc, g_tok, s_tok in zip(toks["doc_id"], toks["green_tokens"],
                                 toks["swir_tokens"]):
        g = np.asarray(g_tok, dtype=np.float64)
        s = np.asarray(s_tok, dtype=np.float64)
        gv = np.where(g == GAP_TOKEN, np.nan, g / SCALE)
        sv = np.where(s == GAP_TOKEN, np.nan, s / SCALE)
        with np.errstate(invalid="ignore", divide="ignore"):
            ratio = (sv - gv) / (sv + gv)
        ok = np.isfinite(ratio)
        # floor matches Spark's floor with no rounding tie rule
        term = pos[ok] * 31 + np.floor(ratio[ok] * 1e6).astype(np.int64)
        grp = int(doc[-2:])
        cur = acc.setdefault(grp, [0, 0])
        cur[0] += int(ok.sum())
        cur[1] += int(term.sum())
    rows = [(g, n, ck) for g, (n, ck) in sorted(acc.items())]
    return pd.DataFrame(rows, columns=["grp", "n_points", "checksum"])


def pack_checksum_oracle(n_docs: int = 300, n_obs: int = 130,
                         seq_len: int = 512, num_shards: int = 16
                         ) -> pd.DataFrame:
    """Expected per-shard packing checksums for the synthetic token
    table: reproduces tokens.pack_sequences (doc_id-ordered concat with
    EOS, seq_len chunks, PAD tail) in one process.  Checksum term per
    pack: ``pack_idx * 131 + sum(tokens)`` (int64-exact)."""
    from nrt_spark.tokens import EOS_TOKEN, PAD_TOKEN

    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    toks["shard"] = [spark_xxhash64_str(d) % num_shards
                     for d in toks["doc_id"]]
    rows = []
    for shard, grp in toks.sort_values("doc_id").groupby("shard"):
        streams = []
        for t in grp["tokens"]:
            streams.append(np.asarray(t, dtype=np.int64))
            streams.append(np.array([EOS_TOKEN], dtype=np.int64))
        flat = np.concatenate(streams)
        n_real = len(flat)
        pad = (-n_real) % seq_len
        flat = np.concatenate([flat, np.full(pad, PAD_TOKEN,
                                             dtype=np.int64)])
        packs = flat.reshape(-1, seq_len)
        ck = int(sum(i * 131 + int(p.sum()) for i, p in enumerate(packs)))
        rows.append((int(shard), len(packs), n_real, ck))
    return pd.DataFrame(rows, columns=["shard", "n_packs", "total_real",
                                       "checksum"]).sort_values("shard")


def gorilla_stats_oracle(n_docs: int = 200, n_obs: int = 130
                         ) -> pd.DataFrame:
    """Expected per-tier compression stats: the Gorilla encoders are
    pure numpy, tier buckets fold identically to Catalyst (bincount
    contract), and compress_tier feeds ts-sorted per-doc points — so
    total points and total BYTES per tier are fully determined by the
    token table.  Round-trip mismatches are pinned to 0."""
    from nrt_spark.fastpath import _tier_points
    from nrt_spark.gorilla import encode_float_streams, encode_timestamps
    from nrt_spark.tokens import GAP_TOKEN, SCALE

    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    days = grid_days(n_obs)
    # the positional grid is shared, so every doc's timestamp block is
    # identical per tier — encode it once, not once per doc
    ts_blocks = {}
    for tier in ("day", "week", "month"):
        bdays, _ = _tier_points(days, np.zeros(n_obs), tier)
        ts_blocks[tier] = len(encode_timestamps(bdays * 86400))
    means = {t: [] for t in ts_blocks}
    for tok in toks["tokens"]:
        t = np.asarray(tok, dtype=np.float64)
        values = np.where(t == GAP_TOKEN, np.nan, t / SCALE)
        for tier in ts_blocks:
            means[tier].append(_tier_points(days, values, tier)[1])
    rows = []
    for tier, ts_len in ts_blocks.items():
        p = sum(map(len, means[tier]))
        b = ts_len * len(means[tier]) + sum(
            map(len, encode_float_streams(means[tier])))
        rows.append((tier, p, b, round(b / p, 3), 0))
    return pd.DataFrame(rows, columns=[
        "tier", "n_points", "n_bytes", "bytes_per_point",
        "roundtrip_mismatches"])


def streaming_rollup_oracle(n_docs: int = 30, n_obs: int = 40
                            ) -> pd.DataFrame:
    """Expected day-tier streaming rollup rows for the synthetic token
    table: at the 5-day decode cadence every day bucket holds exactly
    one observation, so n is 1 (or 0 for gap tokens) and the mean is
    the decoded value itself (round(x, 6) is the identity on 4-decimal
    token values)."""
    from nrt_spark.tokens import (CADENCE_DAYS, EPOCH_DAY, GAP_TOKEN,
                                  SCALE)

    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    rows = []
    for doc, tok in zip(toks["doc_id"], toks["tokens"]):
        t = np.asarray(tok, dtype=np.int64)
        for i, v in enumerate(t):
            day = EPOCH_DAY + CADENCE_DAYS * i
            ts = str(np.datetime64(int(day), "D")) + " 00:00:00"
            if v == GAP_TOKEN:
                rows.append((doc, ts, 0, None))
            else:
                rows.append((doc, ts, 1, float(v) / SCALE))
    return pd.DataFrame(rows, columns=["doc_id", "bucket_start", "n",
                                       "mean"])


def rollup_checksum_oracle(n_docs: int = 300, n_obs: int = 130
                           ) -> pd.DataFrame:
    """Expected per-(tier, doc-group) rollup checksums for the synthetic
    token table — single-process, no Spark.

    Checksum design: every tier bucket contributes an exact-integer term
    ``day*1009 + floor(vsum*1e4+.5) + n + floor(vmin*1e4+.5) + floor(vmax*1e4+.5)``
    (``day`` alone for all-gap buckets); the per-group sum is
    order-independent, so the driver's value-hash certifies every bucket
    of every tier without shipping 39k rows of literals.  vsum folds
    with np.bincount = strictly input-order accumulation, which is
    bit-identical to Catalyst's sequential partial-aggregate fold (the
    fastpath parity contract, tests/test_fastpath.py)."""
    from nrt_spark.fastpath import _bucket_starts
    from nrt_spark.tokens import GAP_TOKEN, SCALE

    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    days = grid_days(n_obs)
    acc: dict = {}
    # the positional grid is identical for every doc: precompute each
    # tier's segmentation once instead of 300x in the doc loop
    tiers = {}
    for tier in ("day", "week", "month"):
        starts = _bucket_starts(days, tier)
        new = np.concatenate(([True], np.diff(starts) != 0))
        seg = np.cumsum(new) - 1
        tiers[tier] = (seg, int(seg[-1]) + 1, starts[new])
    for doc, tok in zip(toks["doc_id"], toks["tokens"]):
        t = np.asarray(tok, dtype=np.float64)
        values = np.where(t == GAP_TOKEN, np.nan, t / SCALE)
        valid = ~np.isnan(values)
        grp = int(doc[-2:])
        for tier in ("day", "week", "month"):
            seg, nseg, bdays = tiers[tier]
            vsum = np.bincount(seg, weights=np.where(valid, values, 0.0),
                               minlength=nseg)
            n = np.bincount(seg, weights=valid.astype(np.float64),
                            minlength=nseg).astype(np.int64)
            vmin = np.full(nseg, np.inf)
            vmax = np.full(nseg, -np.inf)
            np.minimum.at(vmin, seg[valid], values[valid])
            np.maximum.at(vmax, seg[valid], values[valid])
            # floor(x + 0.5) is tie-FREE half-up on both engines; np.rint
            # (half-even) vs Spark F.round (half-up) would diverge on a
            # value distribution that lands scaled sums near .5
            term = np.where(
                n > 0,
                bdays * 1009
                + np.floor(vsum * SCALE + 0.5).astype(np.int64) + n
                + np.floor(np.where(n > 0, vmin, 0) * SCALE + 0.5).astype(np.int64)
                + np.floor(np.where(n > 0, vmax, 0) * SCALE + 0.5).astype(np.int64),
                bdays)
            key = (tier, grp)
            cur = acc.setdefault(key, [0, 0, 0])
            cur[0] += nseg
            cur[1] += int(n.sum())
            cur[2] += int(term.sum())
    rows = [(tier, grp, nb, tn, ck)
            for (tier, grp), (nb, tn, ck) in sorted(acc.items())]
    return pd.DataFrame(rows, columns=["tier", "grp", "n_buckets",
                                       "total_n", "checksum"])


def report_oracle(monitor: str, n_docs: int = 300, n_obs: int = 130,
                  history_end: str = "2016-05-10", **params) -> pd.DataFrame:
    """Expected ``NrtEngine.report`` rows (doc_id, mask, detection_date,
    process) for the synthetic table — single-process, no Spark."""
    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    y = tokens_to_matrix(list(toks["tokens"]))
    days = grid_days(n_obs)
    p = resolve_params(monitor, **params)
    he_day = int(np.datetime64(history_end, "D").astype(int))
    hist = days <= he_day
    state = fit_state(y[hist], days[hist], p)
    run_monitor(state, y[~hist], days[~hist], p)
    return pd.DataFrame({
        "doc_id": toks["doc_id"],
        "mask": state["mask"].astype(np.int32),
        "detection_date": state["detection_date"].astype(np.int32),
        "process": state["process"].astype(np.float64),
    })


def ivf_ann_oracle(sf_dir: str, n_cells: int = 16, iters: int = 8,
                   sample: int = 10000, nprobe: int = 6,
                   seed: str = "nrt-ivf",
                   row_estimate: int | None = None):
    """Numpy twin of the IVF coarse-quantizer training
    (dataops.simsearch.ivf_train): reads the embeddings parquet with
    DuckDB (no Spark), trains the same sha256-seeded Lloyd quantizer on
    the ordered-id sample, and returns ``(centroids, probe, probe_cells)``
    so the registry oracle can inline them as SQL literals.  Training is
    deterministic — a pure function of the ordered sample — so the twin
    certifies the Spark side end to end: sample determinism, centroid
    math, per-vector cell assignment and the probe-cell pruned ranking.

    ``row_estimate``: the row total to size the hash cut from.  Default
    (None) uses DuckDB's footer-exact ``count(*)`` — the bit-exact twin
    of ivf_train's footer-exact path (≤IVF_EXACT_FOOTER_FILES files,
    every test scale).  When ivf_train ran on the footer-SAMPLED path
    (>256 files — it logs a warning with the estimate to pass here),
    give that estimate so both engines derive the same starting cut;
    with ≥sample survivors on both sides the selected id set is then
    identical.
    """
    import hashlib

    import duckdb

    from nrt_spark.dataops.simsearch import (IVF_SAMPLE_BUCKETS,
                                             IVF_SAMPLE_OVERSAMPLE)
    from nrt_spark.hashing import spark_xxhash64_long

    src = f"'{sf_dir}/embeddings.parquet'"
    if row_estimate is not None:
        n_total = int(row_estimate)
    else:
        # count(*) on parquet is footer-metadata-only in duckdb — the
        # exact twin of ivf_train's footer-exact _source_row_estimate
        n_total = duckdb.sql(f"SELECT count(*) FROM {src}").fetchone()[0]
    if n_total > IVF_SAMPLE_OVERSAMPLE * sample:
        # mirror ivf_train's hash-threshold pre-filter (python % on a
        # signed hash == Spark pmod: both non-negative), INCLUDING its
        # geometric cut escalation on under-delivery — both sides are
        # pure functions of the same data, so the samples stay
        # bit-identical
        K = IVF_SAMPLE_BUCKETS
        cut = -(-K * IVF_SAMPLE_OVERSAMPLE * sample // n_total)
        # only NON-NULL embeddings count toward the sample quota —
        # the exact mirror of ivf_train's isNotNull filter BEFORE its
        # ordered limit, so escalation fires on the same survivor
        # counts and both engines select identical id sets
        ids = [r[0] for r in duckdb.sql(
            f"SELECT vec_id FROM {src} "
            f"WHERE embedding IS NOT NULL").fetchall()]
        hashes = {int(i): spark_xxhash64_long(int(i)) % K for i in ids}
        keep = sorted(i for i in ids if hashes[int(i)] < cut)[:sample]
        while len(keep) < sample and cut < K:
            cut = min(cut * 4, K)
            keep = sorted(i for i in ids if hashes[int(i)] < cut)[:sample]
        if not keep and ids:
            # the hash-layout error only applies when there WERE
            # non-NULL candidates to filter; an all-NULL table flows
            # through the (legal) empty keep_df join to the shared
            # centroid-contract guard below
            raise RuntimeError(
                f"ivf_ann_oracle: hash filter left no survivors even at "
                f"cut={cut} (n={n_total}) — table/id layout inconsistent")
        # registered relation, not an interpolated IN-list: a literal
        # list of `sample` ids bloats the SQL and an empty one would be
        # a syntax error
        keep_df = pd.DataFrame({"vec_id": keep})  # noqa: F841 (duckdb scan)
        rows = duckdb.sql(
            f"SELECT e.vec_id, e.embedding FROM {src} e "
            f"JOIN keep_df k ON e.vec_id = k.vec_id "
            f"ORDER BY e.vec_id").fetchall()
    else:
        rows = duckdb.sql(
            f"SELECT vec_id, embedding FROM {src} "
            f"WHERE embedding IS NOT NULL "
            f"ORDER BY vec_id LIMIT {int(sample)}").fetchall()
    if len(rows) < n_cells:
        raise ValueError(
            f"ivf_ann_oracle: only {len(rows)} non-NULL embeddings "
            f"available for n_cells={n_cells} (mirrors ivf_train's "
            f"centroid-contract guard)")
    X = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    h = int.from_bytes(hashlib.sha256(seed.encode()).digest()[:8], "big")
    order = np.argsort((np.arange(len(X)) * 2654435761 + h) % (2 ** 32))
    C = X[order[:n_cells]].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                mu = members.mean(axis=0)
                C[c] = mu / (np.linalg.norm(mu) or 1.0)
    # probe = vec_id 0, fetched explicitly — on the hash-filtered
    # sample path rows[0] is the smallest SURVIVING id, not id 0
    prow = duckdb.sql(
        f"SELECT embedding FROM {src} WHERE vec_id = 0").fetchone()
    if prow is None or prow[0] is None:
        # mirror queries_base._probe_vector's clear error (a bare
        # subscript turns both shapes into cryptic TypeErrors)
        what = "has a NULL embedding" if prow is not None else "is absent"
        raise ValueError(
            f"ivf_ann_oracle: probe row vec_id=0 {what} — the ANN "
            f"oracle needs a non-NULL probe vector")
    probe = np.asarray(prow[0], dtype=np.float64)
    pv = probe / np.linalg.norm(probe)
    probe_cells = np.argsort(-(C @ pv))[:nprobe].tolist()
    return C, [float(x) for x in probe], [int(c) for c in probe_cells]


def day_tier_oracle(n_docs: int = 60, n_obs: int = 60) -> pd.DataFrame:
    """Expected BATCH day-tier rows (doc_id, bucket_start, n, mean,
    vmin, vmax) — at the 5-day cadence each day bucket holds exactly one
    observation, so every aggregate equals the decoded value (or the
    n=0 / NULL gap row); round(x, 6) is the identity on 4-decimal token
    values.  The materialized-rows twin of rollup_checksum_oracle: the
    checksum certifies ALL tiers at 300 docs, this certifies the day
    tier row-for-row at a size a VALUES oracle can carry."""
    from nrt_spark.tokens import (CADENCE_DAYS, EPOCH_DAY, GAP_TOKEN,
                                  SCALE)

    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    rows = []
    for doc, tok in zip(toks["doc_id"], toks["tokens"]):
        t = np.asarray(tok, dtype=np.int64)
        for i, v in enumerate(t):
            day = EPOCH_DAY + CADENCE_DAYS * i
            ts = str(np.datetime64(int(day), "D")) + " 00:00:00"
            if v == GAP_TOKEN:
                rows.append((doc, ts, 0, None, None, None))
            else:
                val = float(v) / SCALE
                rows.append((doc, ts, 1, val, val, val))
    return pd.DataFrame(rows, columns=["doc_id", "bucket_start", "n",
                                       "mean", "vmin", "vmax"])


def multimodal_features_oracle(sf_dir: str, dim: int = 8) -> pd.DataFrame:
    """Expected (part, media_id, n_bytes, f0) rows for the multimodal
    surface over the documents table — TWO certified parts:

    - ``plumb``: the sha256 stand-in feature over raw text bytes
      (certifies Arrow batching, schema and byte handling on arbitrary
      payloads);
    - ``decode``: REAL pure-numpy media decode — each doc gets a
      deterministic synthetic BMP/PPM/WAV payload
      (``synth_media_payload``, kind = doc_id % 3) and the twin
      recomputes decode + featurize with the very same functions the
      Spark UDF batches call, certifying the distributed decode path
      bit-for-bit.

    f0 is rounded exactly like Spark's ``F.round``, which is
    ``BigDecimal.valueOf(d)`` + HALF_UP — i.e. HALF_UP on the double's
    SHORTEST round-trip decimal repr, not on its exact binary expansion
    (``Decimal(repr(x))``, not ``Decimal(x)``; the two differ on values
    whose shortest repr terminates in a 7th-decimal 5).  The feature
    crosses the wire as float32 (FEATURES_SCHEMA), so the twin
    truncates through ``np.float32`` BEFORE the double-promote + round,
    mirroring the engine.  NULL texts mirror the Spark side: n_bytes 0,
    f0 NULL."""
    import decimal

    import duckdb

    from nrt_spark.dataops.multimodal import (_fake_feature,
                                              media_features,
                                              synth_media_payload)

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        f"ORDER BY doc_id").fetchall()
    out = []
    q = decimal.Decimal("1e-6")

    def round6(x: float) -> float:
        return float(decimal.Decimal(repr(float(x))).quantize(
            q, rounding=decimal.ROUND_HALF_UP))

    kinds = ("bmp", "ppm", "wav")
    for doc_id, text in rows:
        if text is None:
            out.append(("plumb", str(doc_id), 0, None))
        else:
            payload = text.encode("utf-8")
            f0 = float(_fake_feature(payload, dim)[0])
            out.append(("plumb", str(doc_id), len(payload), round6(f0)))
        media = synth_media_payload(str(doc_id), kinds[int(doc_id) % 3])
        feat = np.float32(media_features(media, dim)[0])
        out.append(("decode", str(doc_id), len(media), round6(feat)))
    return pd.DataFrame(out, columns=["part", "media_id", "n_bytes", "f0"])


def retention_oracle(n_docs: int = 60, n_obs: int = 60,
                     keep_after: str = "2015-06") -> pd.DataFrame:
    """Expected per-period retention/compaction certification rows.

    Every grid position is a day bucket for every doc (gap tokens still
    produce an n=0 bucket row), so buckets per calendar period =
    n_docs x (grid days falling in that month); expiry drops exactly
    the periods lexicographically below ``keep_after``; compaction at a
    large target leaves one parquet file per surviving period.
    """
    from collections import Counter

    from nrt_spark.tokens import CADENCE_DAYS, EPOCH_DAY

    days = EPOCH_DAY + CADENCE_DAYS * np.arange(n_obs)
    cnt = Counter(str(np.datetime64(int(d), "D"))[:7] for d in days)
    rows = []
    for p in sorted(cnt):
        b = n_docs * cnt[p]
        dropped = p < keep_after
        rows.append((p, b, 0 if dropped else b, 0 if dropped else 1,
                     dropped))
    return pd.DataFrame(rows, columns=["period", "buckets_before",
                                       "buckets_after", "files_after",
                                       "dropped"])


def lttb_oracle(n_docs: int = 60, n_obs: int = 60,
                n_out: int = 12) -> pd.DataFrame:
    """Expected LTTB selections per doc on the deterministic token
    grid: decode (gap -> dropped), run the selection kernel over the
    (day, value) series, emit the chosen points.  The engine runs the
    same kernel per Arrow group; what the cross-engine compare
    certifies is the distributed plumbing — grouping, in-group sort,
    gap exclusion, timestamp decode — against this single-process
    fold rendered as SQL literals."""
    from nrt_spark.rollup import lttb_select
    from nrt_spark.tokens import GAP_TOKEN, SCALE, grid_days

    toks = generate_tokens_local(n_docs, n_obs=n_obs)
    rows = []
    for doc, tok in zip(toks["doc_id"], toks["tokens"]):
        t = np.asarray(tok, dtype=np.int64)
        days = grid_days(len(t))
        keep = t != GAP_TOKEN
        days, vals = days[keep], t[keep].astype(np.float64) / SCALE
        # x axis in µs, matching the engine's datetime64[us] axis
        # exactly (day boundaries keep the int64 µs exact)
        idx = lttb_select(days * 86400 * 1_000_000, vals, n_out)
        for i in idx:
            ts = str(np.datetime64(int(days[i]), "D")) + " 00:00:00"
            rows.append((doc, ts, float(vals[i])))
    return pd.DataFrame(rows, columns=["doc_id", "ts", "value"])


def union_find_components(a: "np.ndarray", b: "np.ndarray"):
    """Connected components over an (a, b) edge list with DETERMINISTIC
    min-label output: every node maps to the smallest node id in its
    component, regardless of edge order.

    Pure vectorized numpy — min-hook (``np.minimum.at``) alternated
    with full pointer-doubling path compression until fixpoint, O(E
    log N) total work — so it stays single-process-feasible on edge
    lists whose recursive-CTE closure (O(N*E) in DuckDB) is not.  This
    is the sf>=10 certification twin of
    :func:`nrt_spark.dataops.dedup.connected_components` (which runs
    the same min-label iteration distributed).

    Returns (nodes, labels): sorted unique node ids and, aligned, the
    min node id of each node's component.
    """
    ids = np.concatenate([np.asarray(a, dtype=np.int64),
                          np.asarray(b, dtype=np.int64)])
    nodes, inv = np.unique(ids, return_inverse=True)
    ia, ib = inv[:len(a)], inv[len(a):]
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        # full path compression (pointer doubling)
        while True:
            gp = parent[parent]
            if np.array_equal(gp, parent):
                break
            parent = gp
        ra, rb = parent[ia], parent[ib]
        lo = np.minimum(ra, rb)
        hi = np.maximum(ra, rb)
        live = lo != hi
        if not live.any():
            break
        # hook every higher root at the MIN of its incident lower
        # roots; unique indices aren't guaranteed, hence minimum.at
        np.minimum.at(parent, hi[live], lo[live])
    # nodes are sorted ascending, so the min root INDEX is the min id
    return nodes, nodes[parent]


def dedup_clusters_oracle(sf_dir: str) -> pd.DataFrame:
    """Single-process twin of queries_docs.dedup_clusters for scales
    where the recursive-CTE closure is quadratic-infeasible (sf>=10).

    Mirrors the engine's round-7 rep-level structure (the sf100 probe
    killed the expanded form on BOTH sides: C(m,2) intra pairs per
    m-copy group made a 3.3G-edge list at 1000x duplication): the edge
    list is the REPRESENTATIVE-level LSH pair graph (the certified
    pair miner's own CTEs over a once-materialized signature table, no
    expansion), the closure is the numpy union-find
    above, and cluster membership comes from the exact-duplicate group
    info (rep, m, msum, active).  A group joins a cluster iff its rep
    has an edge, or m >= 2 with an active rep; component of an isolated
    group is its own rep.  tests/test_oracle_pipeline.py pins this twin
    label-identical to the recursive-CTE closure of the EXPANDED graph
    at driver scales — the equivalence proof of the restructure."""
    import duckdb

    from nrt_spark.queries_docs import (_bands_rp_ctes,
                                        _dup_group_info_sql, _sig_ctes)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    # materialize the signatures once (tiny: one row per DISTINCT
    # text): the collapse->shingle->sign chain dominates the oracle
    # cost at probe scales, and both downstream queries read it
    con.sql(f"CREATE OR REPLACE TEMP TABLE t_sig AS "
            f"WITH {_sig_ctes()} SELECT * FROM sig")
    pairs = con.sql(f"WITH {_bands_rp_ctes('t_sig')} "
                    f"SELECT doc_a, doc_b FROM rp").fetchnumpy()
    ginfo = con.sql(_dup_group_info_sql("t_sig")).df()
    nodes, labels = union_find_components(pairs["doc_a"], pairs["doc_b"])
    comp = pd.DataFrame({"rep": nodes, "component": labels})
    lab = ginfo.merge(comp, on="rep", how="left")
    keep = lab["component"].notna() | ((lab["m"] >= 2) & lab["active"])
    lab = lab[keep].copy()
    lab["component"] = lab["component"].fillna(lab["rep"]).astype("int64")
    out = (lab.groupby("component", as_index=False)
           .agg(n_members=("m", "sum"), member_checksum=("msum", "sum"))
           .rename(columns={"component": "cluster_id"}))
    out["cluster_id"] = out["cluster_id"].astype("int64")
    out["n_members"] = out["n_members"].astype("int64")
    out["member_checksum"] = out["member_checksum"].astype("int64")
    return out


# ---------------------------------------------------------------------------
# Generic cross-engine result digest
#
# Certifies a query result that is too large to collect (tens of
# millions of rows at the sf100 probe scale) by reducing it, INSIDE
# each engine, to one order-independent row: (n_rows, digest) where
# digest = sum over rows of a 60-bit md5 of the row's canonical string.
# Spark and DuckDB build byte-identical canonical strings per row —
# same column order (sorted by name), same per-type rendering — so the
# sums match iff the multisets of canonical rows match.  Unlike the
# hand-written tier digest in tools/sf1_dry_pass.py this needs no
# per-query schema work: the Spark side reads df.schema, the SQL side
# reads DuckDB's DESCRIBE of the oracle query.
#
# Canonical per-type rendering (both engines):
#   boolean    -> 0/1
#   integers   -> decimal string
#   double/float/decimal -> BANDED half-up integers: |x| < 9e12 renders
#                 floor(x * 1e6 + 0.5) (the repo's 6-decimal half-up
#                 rule — the precision every rounded query column
#                 already carries); 9e12 <= |x| < 9e24 renders
#                 'B' || floor(x / 1e6); 9e24 <= |x| < 9e30 renders
#                 'H' || floor(x / 1e18); beyond that 'XL' (a double's
#                 ulp at 1e30 is ~1e14, so the coarser bands keep MORE
#                 precision than the value carries).  The bands keep
#                 every floor() within int64 — an UNbanded floor(x*1e6)
#                 overflows at ~9.2e12, where DuckDB raises
#                 ConversionException while Spark silently clamps to
#                 Long.Max: certification would abort (or collapse
#                 values) at exactly the probe scales whose aggregates
#                 cross 9e12.  'NaN'/'Inf'/'-Inf' render literally.
#                 Doubles are bit-identical across engines on these
#                 queries (proved by the full-collect compare at sf1).
#   date       -> days since 1970-01-01
#   timestamp  -> microseconds since epoch
#   string     -> escaped: '\' -> '\\', '|' -> '\|', '∅' -> '\∅' — so
#                 a value containing the column separator cannot shift
#                 content across column boundaries and no rendered
#                 string can collide with the null mark
#   NULL       -> '∅' (distinct from any rendered value: a literal '∅'
#                 in data renders as '\∅')
# Row string = canonical columns joined with '|'; row hash = the first
# 15 hex digits (60 bits) of md5(row string), an exact BIGINT in both
# engines; digest = SUM(row hash) in 128-bit (decimal(38,0)/HUGEINT).
# ---------------------------------------------------------------------------

_NULL_MARK = "∅"
#: |x| bounds for the double bands; each keeps floor() inside int64
_D_BAND1 = 9.0e12          # floor(x * 1e6 + 0.5)
_D_BAND2 = 9.0e24          # 'B' || floor(x / 1e6)
_D_BAND3 = 9.0e30          # 'H' || floor(x / 1e18)


def generic_digest_spark(df):
    """Reduce a Spark DataFrame to the canonical (n_rows, digest) row
    described above.  Pure Catalyst — no collect, no UDF."""
    from pyspark.sql import functions as F, types as T

    cols = []
    for name in sorted(df.columns):
        field = df.schema[name]
        c = F.col(name)
        t = field.dataType
        if isinstance(t, T.BooleanType):
            s = c.cast("int").cast("string")
        elif isinstance(t, (T.DoubleType, T.FloatType, T.DecimalType)):
            d = c.cast("double")
            a = F.abs(d)
            s = (F.when(F.isnan(d), F.lit("NaN"))
                 .when(d == F.lit(float("inf")), F.lit("Inf"))
                 .when(d == F.lit(float("-inf")), F.lit("-Inf"))
                 .when(a < _D_BAND1,
                       F.floor(d * 1000000 + F.lit(0.5))
                       .cast("long").cast("string"))
                 .when(a < _D_BAND2,
                       F.concat(F.lit("B"), F.floor(d / 1.0e6)
                                .cast("long").cast("string")))
                 .when(a < _D_BAND3,
                       F.concat(F.lit("H"), F.floor(d / 1.0e18)
                                .cast("long").cast("string")))
                 .otherwise(F.lit("XL")))
        elif isinstance(t, T.DateType):
            s = F.datediff(c, F.lit("1970-01-01")).cast("string")
        elif isinstance(t, T.TimestampType):
            s = F.unix_micros(c).cast("string")
        elif isinstance(t, T.StringType):
            # escape so data can't forge column boundaries or the null
            # mark: backslash first, then separator, then null mark
            s = F.replace(
                F.replace(
                    F.replace(c, F.lit("\\"), F.lit("\\\\")),
                    F.lit("|"), F.lit("\\|")),
                F.lit(_NULL_MARK), F.lit("\\" + _NULL_MARK))
        else:                      # integers
            s = c.cast("string")
        cols.append(F.coalesce(s, F.lit(_NULL_MARK)))
    row = F.concat_ws("|", *cols)
    # first 15 hex digits of md5 = 60 bits, exact in a signed int64
    rhash = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(rhash.cast("decimal(38,0)")).cast("string").alias("digest"))


def _canon_sql_col(name: str, dtype: str) -> str:
    q = f'"{name}"'
    d = dtype.upper()
    if d == "BOOLEAN":
        e = f"CAST(CAST({q} AS INT) AS VARCHAR)"
    elif (d in ("DOUBLE", "FLOAT", "REAL")
          or d.startswith("DECIMAL") or d.startswith("NUMERIC")):
        x = f"CAST({q} AS DOUBLE)"
        e = (f"CASE WHEN isnan({x}) THEN 'NaN' "
             f"WHEN {x} = 'inf'::DOUBLE THEN 'Inf' "
             f"WHEN {x} = '-inf'::DOUBLE THEN '-Inf' "
             f"WHEN abs({x}) < {_D_BAND1!r} THEN "
             f"CAST(CAST(floor({x} * 1000000 + 0.5) AS BIGINT) AS VARCHAR) "
             f"WHEN abs({x}) < {_D_BAND2!r} THEN "
             f"'B' || CAST(CAST(floor({x} / 1e6) AS BIGINT) AS VARCHAR) "
             f"WHEN abs({x}) < {_D_BAND3!r} THEN "
             f"'H' || CAST(CAST(floor({x} / 1e18) AS BIGINT) AS VARCHAR) "
             f"ELSE 'XL' END")
    elif d == "DATE":
        e = (f"CAST(date_diff('day', DATE '1970-01-01', {q}) "
             f"AS VARCHAR)")
    elif d.startswith("TIMESTAMP"):
        e = f"CAST(epoch_us({q}) AS VARCHAR)"
    elif d in ("VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR"):
        # same escape order as the Spark side: \, |, null mark.
        # NOTE duckdb string literals do NOT backslash-escape: '\' is
        # one backslash, '\\' is two.
        bs = "\\"
        e = (f"replace(replace(replace({q}, '{bs}', '{bs}{bs}'), "
             f"'|', '{bs}|'), '{_NULL_MARK}', '{bs}{_NULL_MARK}')")
    else:                          # integers (any width)
        e = f"CAST({q} AS VARCHAR)"
    return f"coalesce({e}, '{_NULL_MARK}')"


def generic_digest_sql(sql: str, columns: "list[tuple[str, str]]") -> str:
    """DuckDB twin of :func:`generic_digest_spark` over an arbitrary
    oracle query.  ``columns`` is [(name, duckdb_type), ...] from
    ``DESCRIBE (sql)``; the caller supplies it so this stays a pure
    string transform."""
    parts = ", ".join(_canon_sql_col(n, t)
                      for n, t in sorted(columns, key=lambda c: c[0]))
    row = f"concat_ws('|', {parts})"
    rhash = f"CAST('0x' || substr(md5({row}), 1, 15) AS BIGINT)"
    return (f"SELECT count(*) AS n_rows, "
            f"CAST(sum(CAST({rhash} AS HUGEINT)) AS VARCHAR) AS digest "
            f"FROM ({sql}) _gd")


def generic_digest_sql_for(con, sql: str) -> str:
    """One-stop DuckDB digest: DESCRIBE the oracle query on ``con`` to
    get the result schema, then wrap it with
    :func:`generic_digest_sql`.  The single home for the
    DESCRIBE->columns glue (harness and tests both use this)."""
    cols = [(r[0], r[1]) for r in con.sql(
        f"DESCRIBE SELECT * FROM ({sql}) _d").fetchall()]
    return generic_digest_sql(sql, cols)
