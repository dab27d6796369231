"""Engine / datagen / token queries: monitor reports, tiers, codecs, ANN.

Part of the driver-contract query registry — split out of the single
registry module in round 6 (same conventions; see
nrt_spark/queries.py for the registry contract and
nrt_spark/queries_base.py for the shared helpers)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: F401
from pyspark.sql import Window as W  # noqa: F401

from nrt_spark.dataops import dedup as D  # noqa: F401
from nrt_spark.dataops import simsearch as SS  # noqa: F401
from nrt_spark.dataops import textstats as TS  # noqa: F401
from nrt_spark.dataops.textstats import LANG_MARKERS  # noqa: F401
from nrt_spark.queries_base import (_CENTS_SQL, _NB, _ND, _NS,  # noqa: F401
                                    _cents_col, _null, _probe_vector, _t,
                                    q, sub, REGISTRY, SUB_SQL)

# =========================================================================
# Engine / datagen entries.  The five monitor reports carry a GENERATED
# oracle (the single-process numpy pipeline rendered as SQL literals —
# see _report_oracle_sql); LSH internals, HLL sketches and compression
# stay rows-only (engine-specific by nature).
# =========================================================================


@q("tokenize_docs", """
WITH words AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'),
                             ' ')) AS w
  FROM documents
)
SELECT doc_id, count(*) AS n_tok,
       CAST(sum(('0x' || substr(md5(w), 1, 8))::BIGINT % 50000) AS BIGINT)
         AS tok_checksum
FROM words WHERE len(w) > 0 GROUP BY doc_id
""")
def tokenize_docs(spark, sf_dir):
    """Deterministic tokenizer: word -> id via md5-derived hash mod vocab
    (identical ids in any engine).  Output: per-doc token count +
    checksum of the id stream.  Duplicate-adaptive via
    dedup.collapse_per_doc (token stream is a pure function of the
    normalized text)."""
    docs = _t(spark, sf_dir, "documents")

    def compute(d):
        # spread-before-explode (see dedup.spread_for_explode): the
        # per-doc agg reuses this partitioning, so the Exchange count
        # is unchanged; the count is pinned so AQE can't size the read
        # by pre-explode bytes
        words = D.spread_for_explode(d).select(
            "doc_id",
            F.explode(F.split(D.normalized_text(), " ")).alias("w")
        ).filter(F.length("w") > 0)
        tok_id = (F.conv(F.substring(F.md5("w"), 1, 8), 16, 10)
                  .cast("long") % 50000)
        return (words.groupBy("doc_id")
                .agg(F.count("*").alias("n_tok"),
                     F.sum(tok_id).alias("tok_checksum")))

    return D.collapse_per_doc(docs, compute)


@sub("bpe_token_counts", r"""
SELECT source,
       CAST(sum(len(regexp_extract_all(text,
         '''[a-z]+| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))) AS BIGINT)
         AS total_bpe_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
""")
def bpe_token_counts(spark, sf_dir, collapse="auto"):
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex
    (contractions | words | numbers | punctuation runs | whitespace),
    identical match semantics in Java regex and RE2.

    Duplicate-adaptive: the count is a pure function of the RAW text
    (whitespace runs are BPE tokens, so the collapse groups by the raw
    string, not the normalized form the other text operators key on)
    and the output is a per-source aggregate — collapsed, the regex
    runs once per DISTINCT (text, source), weighted by multiplicity."""
    pat = r"'[a-z]+| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
    docs = _t(spark, sf_dir, "documents")
    if collapse == "auto":
        collapse = D.duplicate_ratio_estimate(docs) < D.COLLAPSE_RATIO
    if collapse:
        g = docs.groupBy("text", "source").agg(F.count("*").alias("m"))
        return (g.select("source", "m",
                         F.regexp_count(F.col("text"), F.lit(pat)).alias("n"))
                .groupBy("source")
                .agg(F.sum(F.col("m") * F.col("n")).alias("total_bpe_tokens"),
                     F.sum("m").alias("n_docs")))
    return (docs
            .select("source",
                    F.regexp_count(F.col("text"), F.lit(pat)).alias("n"))
            .groupBy("source")
            .agg(F.sum("n").alias("total_bpe_tokens"),
                 F.count("*").alias("n_docs")))


def _token_roundtrip_sql() -> str:
    """The numpy twin reproduces the zipf source assignment (chained
    xxhash64), so the expected per-source row counts — with the
    mismatch column pinned to ZERO — render as a VALUES oracle; any
    round-trip failure or source-assignment drift breaks the hash."""
    from nrt_spark.oracle import generate_tokens_local

    counts = generate_tokens_local(500, n_obs=130)["source"] \
        .value_counts().sort_index()
    rows = ",\n".join(f"('{s_}', {int(n)}, 0)"
                      for s_, n in counts.items())
    return ("SELECT source, CAST(n_rows AS BIGINT) AS n_rows, "
            "CAST(mismatches AS BIGINT) AS mismatches FROM (VALUES\n"
            + rows + "\n) t(source, n_rows, mismatches)")


@q("token_roundtrip_invariant", lambda: _token_roundtrip_sql())
def token_roundtrip_invariant(spark, sf_dir):
    """The BASELINE input_hint per-row invariant: decode -> re-encode of
    every token array must be bit-identical (gap tokens included).
    Output: per-source row counts with zero mismatches, checked against
    the numpy twin's expected source distribution."""
    import numpy as np
    import pandas as pd
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.tokens import tokens_to_matrix, values_to_tokens

    toks = generate_tokens(spark, 500, n_obs=130)

    def check(batches):
        for pdf in batches:
            ok = []
            for t in pdf["tokens"]:
                t = np.asarray(t, dtype=np.int32)
                y = tokens_to_matrix([t])[:, 0]
                ok.append(bool((values_to_tokens(y) == t).all()))
            yield pd.DataFrame({"source": pdf["source"], "ok": ok})

    res = toks.mapInPandas(check, "source string, ok boolean")
    return (res.groupBy("source")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                 .alias("mismatches")))


@sub("distinct_approx_events", None)
def distinct_approx_events(spark, sf_dir):
    """HLL++ approximate distinct counts (engine-specific sketches have
    no cross-engine oracle; rows-only check)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id").alias("approx_users"),
                 F.approx_count_distinct("event_id", 0.01)
                 .alias("approx_events")))


@sub("band_ratio_projection", None)
def band_ratio_projection(spark, sf_dir):
    """NDVI-style band-ratio projection with inf->NULL handling
    (reference F8: (B8A-B04)/(B8A+B04), conftest.py:36) over the band
    token table."""
    from nrt_spark.datagen import generate_tokens

    toks = generate_tokens(spark, 200, n_obs=60, bands=True)
    long = toks.select(
        "doc_id", F.posexplode(F.arrays_zip("green_tokens", "swir_tokens"))
        .alias("pos", "z"))
    g = F.when(F.col("z.green_tokens") == -1, None) \
        .otherwise(F.col("z.green_tokens") / 10000.0)
    s = F.when(F.col("z.swir_tokens") == -1, None) \
        .otherwise(F.col("z.swir_tokens") / 10000.0)
    ratio = (s - g) / (s + g)
    return long.select(
        "doc_id", "pos",
        F.round(F.when(F.isnan(ratio), None).otherwise(ratio), 6)
        .alias("ndvi_like")).filter(F.col("ndvi_like").isNotNull())

def _band_ratio_checksum_sql() -> str:
    from nrt_spark.oracle import band_ratio_checksum_oracle

    pdf = band_ratio_checksum_oracle(n_docs=200, n_obs=60)
    rows = ",\n".join(f"({int(g)}, {int(n)}, {int(ck)})"
                      for g, n, ck in pdf.itertuples(index=False))
    return ("SELECT CAST(grp AS INT) AS grp, "
            "CAST(n_points AS BIGINT) AS n_points, "
            "CAST(checksum AS BIGINT) AS checksum FROM (VALUES\n" + rows
            + "\n) t(grp, n_points, checksum)")


@q("band_ratio_checksum", lambda: _band_ratio_checksum_sql())
def band_ratio_checksum(spark, sf_dir):
    """Driver-checked twin of band_ratio_projection (reference F8/S2):
    per doc-group integer checksums over (pos, scaled ratio) of the
    NDVI-like projection with gap->NULL and inf/NaN->NULL, compared
    against the numpy twin (oracle.band_ratio_checksum_oracle).  Exact
    because both engines decode the same int tokens to the same doubles
    and compute the same (s-g)/(s+g)."""
    from nrt_spark.datagen import generate_tokens

    toks = generate_tokens(spark, 200, n_obs=60, bands=True)
    long = toks.select(
        "doc_id", F.posexplode(F.arrays_zip("green_tokens", "swir_tokens"))
        .alias("pos", "z"))
    g = F.when(F.col("z.green_tokens") == -1, None) \
        .otherwise(F.col("z.green_tokens") / 10000.0)
    s = F.when(F.col("z.swir_tokens") == -1, None) \
        .otherwise(F.col("z.swir_tokens") / 10000.0)
    long = long.withColumn("ratio", (s - g) / (s + g))
    valid = (F.col("ratio").isNotNull() & ~F.isnan("ratio")
             & (F.abs("ratio") != float("inf")))
    # floor, not round: token ratios are small-integer rationals, so
    # ratio*1e6 DOES land on exact .5 ties where round half-up (Spark)
    # and half-even (numpy) diverge; floor has no tie rule
    term = (F.col("pos").cast("long") * 31
            + F.floor(F.col("ratio") * 1e6).cast("long"))
    return (long.filter(valid)
            .groupBy(_doc_grp())
            .agg(F.count("*").alias("n_points"),
                 F.sum(term).alias("checksum")))


def _doc_grp():
    '''Per-doc group key shared by the checksum oracles (last two id
    digits -> 100 groups).'''
    return F.substring("doc_id", -2, 2).cast("int").alias("grp")


def _report_shape(rep):
    '''Canonical driver shape for monitor reports: int mask, NaN -> NULL
    so both engines emit the same byte-exact doubles / typed ints.'''
    return rep.select(
        "doc_id", F.col("mask").cast("int").alias("mask"),
        F.col("detection_date").cast("int").alias("detection_date"),
        F.when(F.isnan("process"), None).otherwise(F.col("process"))
        .alias("process"))


def _datagen_report(spark, monitor: str, **params):
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.engine import NrtEngine

    toks = generate_tokens(spark, 300, n_obs=130)
    eng = NrtEngine(spark, monitor, num_buckets=16, **params)
    state = eng.fit(toks, history_end="2016-05-10")
    return _report_shape(NrtEngine.report(eng.monitor(state, toks)))


_report_sql_cache: dict = {}


def _report_oracle_sql(monitor: str, **params):
    """Cross-engine oracle for the monitor reports: the single-process
    numpy pipeline (nrt_spark.oracle — same deterministic datagen via a
    pure-Python xxhash64, same kernels, NO Spark) computes the expected
    report, embedded as SQL literals for DuckDB.  The driver's compare
    then certifies the entire distributed plumbing (bucketing, cogrouped
    state⋈obs alignment, last_day masking) byte-exactly.  Floats go
    through string->DOUBLE casts: repr() round-trips doubles exactly,
    while a bare decimal literal would become DECIMAL in DuckDB and
    double-round.  Cached by (monitor, params): nrt_cusum_report and
    nrt_incremental_report share one generated oracle."""
    from nrt_spark.oracle import report_oracle

    key = (monitor, tuple(sorted(params.items())))
    if key in _report_sql_cache:
        return _report_sql_cache[key]
    pdf = report_oracle(monitor, n_docs=300, n_obs=130, **params)
    rows = []
    for doc, mask, dd, proc in zip(pdf["doc_id"], pdf["mask"],
                                   pdf["detection_date"], pdf["process"]):
        p = "NULL" if (proc != proc) else f"CAST('{float(proc)!r}' AS DOUBLE)"
        rows.append(f"('{doc}', {int(mask)}, {int(dd)}, {p})")
    sql = ("SELECT doc_id, CAST(mask AS INT) AS mask, "
           "CAST(detection_date AS INT) AS detection_date, "
           "CAST(process AS DOUBLE) AS process FROM (VALUES\n"
           + ",\n".join(rows)
           + "\n) t(doc_id, mask, detection_date, process)")
    _report_sql_cache[key] = sql
    return sql


@q("nrt_ewma_report",
   lambda: _report_oracle_sql("ewma", trend=False, sensitivity=5.0))
def nrt_ewma_report(spark, sf_dir):
    """Full fit+monitor EWMA pipeline on the deterministic token table,
    checked byte-exactly against the single-process numpy oracle."""
    return _datagen_report(spark, "ewma", trend=False, sensitivity=5.0)


@q("nrt_cusum_report",
   lambda: _report_oracle_sql("cusum", trend=False, method="OLS"))
def nrt_cusum_report(spark, sf_dir):
    return _datagen_report(spark, "cusum", trend=False, method="OLS")


@q("nrt_mosum_report",
   lambda: _report_oracle_sql("mosum", trend=False, method="OLS"))
def nrt_mosum_report(spark, sf_dir):
    return _datagen_report(spark, "mosum", trend=False, method="OLS")


@q("nrt_iqr_report", lambda: _report_oracle_sql("iqr", trend=False))
def nrt_iqr_report(spark, sf_dir):
    return _datagen_report(spark, "iqr", trend=False)


@q("nrt_ccdc_report", lambda: _report_oracle_sql("ccdc", method="OLS"))
def nrt_ccdc_report(spark, sf_dir):
    return _datagen_report(spark, "ccdc", method="OLS")


@q("nrt_incremental_report",
   lambda: _report_oracle_sql("cusum", trend=False, method="OLS"))
def nrt_incremental_report(spark, sf_dir):
    """Incremental ingest path (reference W7/S4): the monitoring period
    arrives as LONG-FORM observations in two separate ``monitor_obs``
    calls (new acquisitions land as points, not re-shipped series).
    Chunked sequential advance must land byte-exactly where the full
    batch monitor lands — the oracle is the SAME numpy twin that checks
    ``nrt_cusum_report``, so the driver certifies resume/idempotence,
    not just the kernels."""
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.engine import NrtEngine
    from nrt_spark.tokens import decode_long

    toks = generate_tokens(spark, 300, n_obs=130)
    eng = NrtEngine(spark, "cusum", num_buckets=16, trend=False,
                    method="OLS")
    state = eng.fit(toks, history_end="2016-05-10")
    obs = (decode_long(toks).filter(F.col("ts") > "2016-05-10")
           .select("doc_id", "ts", "value"))
    state = eng.monitor_obs(state, obs.filter(F.col("ts") <= "2017-06-01"))
    state = eng.monitor_obs(state, obs.filter(F.col("ts") > "2017-06-01"))
    return _report_shape(NrtEngine.report(state))


def _day_tier_sql() -> str:
    from nrt_spark.oracle import day_tier_oracle

    pdf = day_tier_oracle(n_docs=60, n_obs=60)

    def num(x):
        # pandas coerces the twin's None to NaN: gap buckets must render
        # as SQL NULL (what Spark's n=0 aggregate returns), never as
        # CAST('nan' AS DOUBLE) — DuckDB NaN != SQL NULL
        return ("NULL" if (x is None or x != x)
                else f"CAST('{float(x)!r}' AS DOUBLE)")

    rows = ",\n".join(
        f"('{d}', TIMESTAMP '{ts}', {int(n)}, {num(m)}, {num(lo)}, {num(hi)})"
        for d, ts, n, m, lo, hi in pdf.itertuples(index=False))
    return ("SELECT doc_id, bucket_start, CAST(n AS BIGINT) AS n, "
            "CAST(mean AS DOUBLE) AS mean, CAST(vmin AS DOUBLE) AS vmin, "
            "CAST(vmax AS DOUBLE) AS vmax FROM (VALUES\n" + rows
            + "\n) t(doc_id, bucket_start, n, mean, vmin, vmax)")


@q("nrt_rollup_day_tier", lambda: _day_tier_sql())
def nrt_rollup_day_tier(spark, sf_dir):
    """Day-tier continuous aggregate over the token table, certified
    ROW-FOR-ROW against the numpy twin (day_tier_oracle: at the 5-day
    cadence every day bucket is fully determined).  The 300-doc
    ALL-tiers certification is nrt_rollup_checksum; this entry carries
    the materialized rows at a size a VALUES oracle can ship."""
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.tokens import decode_long
    from nrt_spark.rollup import rollup_raw

    toks = generate_tokens(spark, 60, n_obs=60)
    day = rollup_raw(decode_long(toks), "day")
    return day.select("doc_id", "bucket_start", "n",
                      F.round("mean", 6).alias("mean"),
                      F.round("vmin", 6).alias("vmin"),
                      F.round("vmax", 6).alias("vmax"))


def _pack_checksum_sql() -> str:
    from nrt_spark.oracle import pack_checksum_oracle

    pdf = pack_checksum_oracle(n_docs=300, n_obs=130, seq_len=512,
                               num_shards=16)
    rows = ",\n".join(
        f"({int(s)}, {int(np_)}, {int(tr)}, {int(ck)})"
        for s, np_, tr, ck in pdf.itertuples(index=False))
    return ("SELECT CAST(shard AS INT) AS shard, "
            "CAST(n_packs AS BIGINT) AS n_packs, "
            "CAST(total_real AS BIGINT) AS total_real, "
            "CAST(checksum AS BIGINT) AS checksum FROM (VALUES\n" + rows
            + "\n) t(shard, n_packs, total_real, checksum)")


@q("pack_token_sequences", lambda: _pack_checksum_sql())
def pack_token_sequences(spark, sf_dir):
    """Sequence packing (concat-and-chunk into fixed 512-token training
    rows, EOS between docs, PAD tail; one shuffle on the shard key) —
    certified per shard against the numpy twin via integer checksums
    over (pack_idx, token sums)."""
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.tokens import pack_sequences

    toks = generate_tokens(spark, 300, n_obs=130)
    packed = pack_sequences(toks, seq_len=512, num_shards=16)
    term = (F.col("pack_idx") * 131
            + F.aggregate("tokens", F.lit(0).cast("long"),
                          lambda acc, t: acc + t.cast("long")))
    return (packed.groupBy("shard")
            .agg(F.count("*").alias("n_packs"),
                 F.sum("n_real").cast("long").alias("total_real"),
                 F.sum(term).alias("checksum")))


def _rollup_checksum_oracle_sql() -> str:
    """VALUES-literal oracle from the numpy rollup twin (all-integer
    output, so the compare is exact by construction)."""
    from nrt_spark.oracle import rollup_checksum_oracle

    pdf = rollup_checksum_oracle(n_docs=300, n_obs=130)
    rows = ",\n".join(
        f"('{t}', {int(g)}, {int(nb)}, {int(tn)}, {int(ck)})"
        for t, g, nb, tn, ck in pdf.itertuples(index=False))
    return ("SELECT tier, CAST(grp AS INT) AS grp, "
            "CAST(n_buckets AS BIGINT) AS n_buckets, "
            "CAST(total_n AS BIGINT) AS total_n, "
            "CAST(checksum AS BIGINT) AS checksum FROM (VALUES\n" + rows
            + "\n) t(tier, grp, n_buckets, total_n, checksum)")


@q("nrt_rollup_checksum", lambda: _rollup_checksum_oracle_sql())
def nrt_rollup_checksum(spark, sf_dir):
    """Every bucket of every retention tier, certified by the driver:
    per (tier, doc-group) order-independent integer checksums over
    (bucket day, vsum, n, vmin, vmax), compared against the
    single-process numpy twin (oracle.rollup_checksum_oracle).  vsum
    enters as floor(vsum*1e4+.5) — exact because tier sums fold in the same
    order in both engines (fastpath parity contract)."""
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.tokens import decode_long
    from nrt_spark.rollup import rollup_raw

    toks = generate_tokens(spark, 300, n_obs=130)
    long_df = decode_long(toks)
    parts = []
    for tier in ("day", "week", "month"):
        r = rollup_raw(long_df, tier)
        day_num = F.datediff("bucket_start", F.lit("1970-01-01"))
        # floor(x + 0.5) = tie-free half-up, same rule as the numpy twin
        # (F.round is HALF_UP but np.rint is half-even; see ADVICE r2)
        term = F.when(
            F.col("n") > 0,
            day_num.cast("long") * 1009
            + F.floor(F.col("vsum") * 10000 + 0.5) + F.col("n")
            + F.floor(F.col("vmin") * 10000 + 0.5)
            + F.floor(F.col("vmax") * 10000 + 0.5)
        ).otherwise(day_num.cast("long"))
        parts.append(
            r.groupBy(F.lit(tier).alias("tier"), _doc_grp())
            .agg(F.count("*").alias("n_buckets"),
                 F.sum("n").cast("long").alias("total_n"),
                 F.sum(term).alias("checksum")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _gorilla_stats_sql() -> str:
    from nrt_spark.oracle import gorilla_stats_oracle

    pdf = gorilla_stats_oracle(n_docs=200, n_obs=130)
    rows = ",\n".join(
        f"('{t}', {int(p)}, {int(b)}, CAST('{float(bp)!r}' AS DOUBLE), {int(m)})"
        for t, p, b, bp, m in pdf.itertuples(index=False))
    return ("SELECT tier, CAST(n_points AS BIGINT) AS n_points, "
            "CAST(n_bytes AS BIGINT) AS n_bytes, "
            "CAST(bytes_per_point AS DOUBLE) AS bytes_per_point, "
            "CAST(roundtrip_mismatches AS BIGINT) AS roundtrip_mismatches "
            "FROM (VALUES\n" + rows
            + "\n) t(tier, n_points, n_bytes, bytes_per_point, "
              "roundtrip_mismatches)")


@q("nrt_gorilla_stats", lambda: _gorilla_stats_sql())
def nrt_gorilla_stats(spark, sf_dir):
    """Compression metrics per tier: points, bytes, bytes/point, and a
    round-trip mismatch count — checked against the numpy twin, which
    re-encodes every tier with the same pure-numpy codecs (byte counts
    are fully deterministic) and pins mismatches to zero."""
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.tokens import decode_long
    from nrt_spark.rollup import rollup_tiers
    from nrt_spark.compress import compress_tier, decompress_tier

    toks = generate_tokens(spark, 200, n_obs=130)
    tiers = rollup_tiers(decode_long(toks))
    rows = []
    for tier, df in tiers.items():
        blocks = compress_tier(df, value_col="mean")
        back = decompress_tier(blocks).withColumnRenamed("value", "rt")
        orig = df.select("doc_id", "bucket_start",
                         F.col("mean").alias("ov"))
        # null-safe compare so one-sided full-join rows (a dropped or
        # fabricated point) COUNT as mismatches; NaN decode of a gap
        # bucket's NULL mean is the one legitimate difference
        mism_df = (back.join(orig, ["doc_id", "bucket_start"], "full")
                   .filter("NOT (rt <=> ov) AND NOT "
                           "(rt IS NOT NULL AND isnan(rt) AND ov IS NULL)")
                   .agg(F.count("*").alias("m")))
        # one job per tier: byte/point totals and the mismatch count
        # collect together (1-row cross join of two scalar aggregates)
        stats = (blocks.agg(F.sum("n_points").alias("p"),
                            F.sum("n_bytes").alias("b"))
                 .crossJoin(mism_df).collect()[0])
        rows.append((tier, int(stats["p"]), int(stats["b"]),
                     round(stats["b"] / stats["p"], 3), int(stats["m"])))
    return spark.createDataFrame(
        rows, "tier string, n_points long, n_bytes long, "
              "bytes_per_point double, roundtrip_mismatches long")


def _lsh_topk_sql(dim: int = 64, n_planes: int = 6, n_tables: int = 8,
                  k: int = 10, seed: str = "nrt") -> str:
    """Oracle for the multi-table bucketed ANN query: the hyperplanes of
    every table are deterministic literals, so the whole OR-amplified
    bucket-pruned search is SQL-expressible — a vector is a candidate
    when its bucket under table t's inlined planes equals the probe's
    (numpy-computed literal) bucket for ANY t; exact cosine ranking over
    the candidates.  The probe is read from the table, so its bucket
    literals are a pure function of the same parquet both engines scan."""
    import os

    import duckdb

    def bucket_expr(vcol, planes):
        # two-sided CASE, no ELSE: a NULL dot (NULL vector) leaves the
        # bit — hence the bucket sum — NULL, and the bucket-equality
        # candidate filter drops the row.  This mirrors the Spark
        # side's NULL propagation (lsh_assign / buckets_udf); an
        # `ELSE 0` would file NULL vectors in bucket 0 and emit
        # phantom NULL-cosine candidates the engine never produces.
        bits = []
        for p in range(n_planes):
            lit = "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
            dot = f"list_dot_product({vcol}, {lit}::DOUBLE[])"
            bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} "
                        f"WHEN {dot} < 0 THEN 0 END)")
        return "(" + "\n      + ".join(bits) + ")"

    sf_dir = os.environ.get("NRT_TEST_SF_DIR", "/root/testdata/sf0.01")
    prow = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"WHERE vec_id = 0").fetchone()
    if prow is None or prow[0] is None:
        # mirror queries_base._probe_vector's clear error
        what = "has a NULL embedding" if prow is not None else "is absent"
        raise ValueError(
            f"_lsh_topk_sql: probe row vec_id=0 {what} — the ANN oracle "
            f"needs a non-NULL probe vector")
    probe = prow[0]
    pbs = SS.lsh_probe_buckets([float(x) for x in probe], n_planes,
                               n_tables, seed)
    any_table = "\n   OR ".join(
        f"{bucket_expr('v', SS.hyperplanes(dim, n_planes, f'{seed}-{t}'))}"
        f" = {int(pbs[t])}"
        for t in range(n_tables))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
probe AS (SELECT v AS p FROM e WHERE vec_id = 0),
cand AS (
  SELECT vec_id, v FROM e
  WHERE {any_table}
)
SELECT c.vec_id,
       round(list_dot_product(c.v, probe.p)
             / (sqrt(list_dot_product(c.v, c.v))
                * sqrt(list_dot_product(probe.p, probe.p))), 6) AS cosine
FROM cand c, probe
ORDER BY cosine DESC, c.vec_id LIMIT {k}
"""


@q("lsh_topk_embeddings", lambda: _lsh_topk_sql())
def lsh_topk_embeddings(spark, sf_dir):
    """Multi-table bucketed ANN variant of cosine_topk (8 independent
    6-plane tables, OR-amplified: single-bucket recall ~0.2 of the true
    top-10 on uniform vectors, multi-table ~0.6-0.8 while scanning
    ~T/2^b of the table) — oracle-checked end to end: the SQL
    reproduces every table's bucket assignment from the same plane
    literals and the probe's numpy-computed bucket ids."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = _probe_vector(emb)
    return SS.lsh_topk(emb, probe, k=10, n_planes=6, n_tables=8)


def _ivf_topk_sql(n_cells: int = 16, iters: int = 8, k: int = 10,
                  nprobe: int = 6) -> str:
    """Oracle for the IVF ANN query.  The coarse quantizer is a pure
    function of the ordered-id sample, so the numpy twin
    (oracle.ivf_ann_oracle) retrains it straight from the parquet and
    this SQL inlines the centroids + the probe's nearest cells as
    literals; cell assignment (argmax of the 16 centroid dots, first-max
    tie-break on both engines) and the pruned cosine ranking run in SQL.
    The twin reads ``$NRT_TEST_SF_DIR`` (default sf0.01 — the scale the
    driver compares at), matching the sf_dir the query receives."""
    import os

    from nrt_spark.oracle import ivf_ann_oracle

    sf_dir = os.environ.get("NRT_TEST_SF_DIR", "/root/testdata/sf0.01")
    C, probe, cells = ivf_ann_oracle(sf_dir, n_cells=n_cells, iters=iters,
                                     nprobe=nprobe)
    dots = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for c in C)
    p_lit = "[" + ", ".join(repr(float(x)) for x in probe) + "]::DOUBLE[]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
probe AS (SELECT {p_lit} AS p),
assigned AS (
  SELECT vec_id, v,
         list_position([{dots}], list_max([{dots}])) - 1 AS cell
  FROM e
)
SELECT a.vec_id,
       round(list_dot_product(a.v, probe.p)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(probe.p, probe.p))), 6) AS cosine
FROM assigned a, probe
WHERE a.cell IN ({', '.join(str(c) for c in cells)})
ORDER BY cosine DESC, a.vec_id LIMIT {k}
"""


@q("ivf_topk_embeddings", lambda: _ivf_topk_sql())
def ivf_topk_embeddings(spark, sf_dir):
    """IVF approximate nearest neighbours: deterministic k-means coarse
    quantizer (ordered sample — reproducible on any partitioning), probe
    the nearest cells only (the second ANN scale path next to LSH).
    Oracle-checked end to end: the numpy twin retrains the quantizer
    from the same parquet (bit-exact centroids) and the SQL reassigns
    every vector's cell from the centroid literals."""
    emb = _t(spark, sf_dir, "embeddings")
    C = SS.ivf_train(emb, n_cells=16, iters=8)
    probe = _probe_vector(emb)
    return SS.ivf_topk(emb, probe, C, k=10, nprobe=6)


def _multimodal_sql() -> str:
    """Oracle for the multimodal surface — a two-part composite:
    'plumb' = sha256 stand-in features over raw text bytes (Arrow
    batching / byte handling), 'decode' = REAL pure-numpy BMP/PPM/WAV
    decode of deterministic synthetic payloads, featurized by the same
    kernels the twin recomputes single-process.  Reads
    ``$NRT_TEST_SF_DIR`` like the other data-dependent generators."""
    import os

    from nrt_spark.oracle import multimodal_features_oracle

    sf_dir = os.environ.get("NRT_TEST_SF_DIR", "/root/testdata/sf0.01")
    pdf = multimodal_features_oracle(sf_dir, dim=8)
    rows = ",\n".join(
        "('{}', '{}', {}, {})".format(
            part, m, int(nb),
            "NULL" if (f0 is None or f0 != f0)
            else f"CAST('{float(f0)!r}' AS DOUBLE)")
        for part, m, nb, f0 in pdf.itertuples(index=False))
    return ("SELECT part, media_id, CAST(n_bytes AS INT) AS n_bytes, "
            "CAST(f0 AS DOUBLE) AS f0 FROM (VALUES\n" + rows
            + "\n) t(part, media_id, n_bytes, f0)")


@q("multimodal_features", lambda: _multimodal_sql())
def multimodal_features(spark, sf_dir):
    """Multimodal columns, certified end to end: part 'plumb' runs the
    sha256 stand-in over raw text payloads; part 'decode' synthesizes
    one REAL uncompressed media file per doc (BMP/PPM image or PCM WAV,
    kind = doc_id % 3) on the executors and runs the pure-numpy
    decoders + luma/RMS featurizers — no stub, no NotImplementedError
    on this path."""
    from nrt_spark.dataops.multimodal import (decode_features,
                                              docs_as_media,
                                              docs_as_synth_media)

    docs = _t(spark, sf_dir, "documents")
    plumb = decode_features(docs_as_media(docs), dim=8, fake=True)
    real = decode_features(docs_as_synth_media(docs), dim=8)

    def shape(df, tag):
        # cast BEFORE rounding: round(float32) stays float32, whose
        # double promotion differs from the oracle's exact decimal
        return df.select(
            F.lit(tag).alias("part"), "media_id", "n_bytes",
            F.round(F.element_at("features", 1).cast("double"), 6)
            .alias("f0"))

    return shape(plumb, "plumb").unionAll(shape(real, "decode"))


