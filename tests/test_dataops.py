"""Dataops unit tests on constructed edge-case documents (the oracle
harness covers the main behavior on driver testdata)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta alpha beta gamma", "en", "s0", 40),
        (2, "alpha beta gamma delta alpha beta gamma", "en", "s0", 40),  # dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta", "en", "s0", 40),  # near-dup
        (4, "one two", "en", "s0", 7),                                   # < 3 words
        (5, "x", "en", "s0", 1),                                         # 1 word
        (6, "the cat and the dog of the house", "en", "s1", 30),
        (7, "der hund und die katze ist das haus", "de", "s1", 35),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_finds_duplicates(spark, docs):
    from nrt_spark.dataops.dedup import exact_dedup

    res = exact_dedup(docs).toPandas()
    assert (res["n_dupes"] == 2).sum() == 1
    dup_row = res[res["n_dupes"] == 2].iloc[0]
    assert dup_row["keep_doc_id"] == 1


def test_short_docs_produce_no_shingles(spark, docs):
    """sequence(0, negative) descends in Spark — the guard must yield
    zero shingles for docs with fewer than n words."""
    from nrt_spark.dataops.dedup import word_shingles

    sh = word_shingles(docs, n=3).toPandas()
    assert set(sh[sh["doc_id"].isin([4, 5])]["doc_id"]) == set()
    assert (sh["doc_id"] == 1).sum() > 0


def test_dup_groups_mega_group_guard(spark, docs, monkeypatch):
    """A duplicate group larger than NRT_DEDUP_MAX_GROUP must FAIL
    loudly in-task (one collect_list row + C(m,2) intra explosion would
    otherwise OOM one executor silently on a crawl-grade corpus); under
    the cap the same pipeline runs clean."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from nrt_spark.dataops.dedup import _dup_groups

    mega = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"), "*"
    ).select((F.col("doc_id") + F.col("k") * 100).alias("doc_id"), "text")

    monkeypatch.setenv("NRT_DEDUP_MAX_GROUP", "5")
    with pytest.raises(SparkRuntimeException, match="NRT_DEDUP_MAX_GROUP"):
        _dup_groups(mega).collect()

    monkeypatch.setenv("NRT_DEDUP_MAX_GROUP", "50")
    g = _dup_groups(mega).collect()
    assert max(r["m"] for r in g) == 20      # docs 1+2 are dups, x10 replicas

    monkeypatch.setenv("NRT_DEDUP_MAX_GROUP", "0")     # disabled
    assert len(_dup_groups(mega).collect()) == len(g)


def test_jaccard_finds_near_dup(spark, docs):
    from nrt_spark.dataops.dedup import jaccard_pairs

    pairs = jaccard_pairs(docs, n=3, threshold=0.2).toPandas()
    assert ((pairs["doc_a"] == 1) & (pairs["doc_b"] == 2)
            & (pairs["jaccard"] == 1.0)).any()
    near = pairs[(pairs["doc_a"].isin([1, 2])) & (pairs["doc_b"] == 3)]
    assert len(near) == 2 and (near["jaccard"] < 1.0).all()


def test_langid_markers(spark, docs):
    from nrt_spark.dataops.textstats import language_id

    pred = language_id(docs).toPandas().set_index("doc_id")["pred_lang"]
    assert pred[6] == "en"
    assert pred[7] == "de"
    assert pred[1] == "und"  # no markers at all


def test_minhash_identical_docs_collide_everywhere(spark, docs):
    from nrt_spark.dataops.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2).toPandas()
    full = pairs[(pairs["doc_a"] == 1) & (pairs["doc_b"] == 2)]
    assert len(full) == 1 and full.iloc[0]["n_bands"] == 4


def test_simhash_similar_docs_close(spark, docs):
    from nrt_spark.dataops.dedup import simhash16

    fp = simhash16(docs).toPandas().set_index("doc_id")["simhash"]
    assert fp[1] == fp[2]
    d13 = bin(int(fp[1]) ^ int(fp[3])).count("1")
    d17 = bin(int(fp[1]) ^ int(fp[7])).count("1")
    assert d13 <= d17


def test_multimodal_undecodable_payloads(spark, docs):
    """Raw text bytes are NOT a decodable media format: the real path
    raises a loud ValueError naming the magic (on_error='raise'), or
    emits NULL features per row (on_error='null'); fake=True keeps the
    deterministic sha256 stand-in for plumbing-only tests."""
    from nrt_spark.dataops.multimodal import docs_as_media, decode_features

    media = docs_as_media(docs.withColumn("doc_id", F.col("doc_id").cast("string")))
    with pytest.raises(Exception, match="unsupported media magic"):
        decode_features(media, fake=False).collect()
    nulled = decode_features(media, fake=False, on_error="null").toPandas()
    assert len(nulled) == 7 and nulled["features"].isna().all()
    assert (nulled["n_bytes"] > 0).all()    # bytes still counted
    feats = decode_features(media, dim=8, fake=True).toPandas()
    assert len(feats) == 7 and all(len(f) == 8 for f in feats["features"])
    # deterministic across runs
    feats2 = decode_features(media, dim=8, fake=True).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = feats2.sort_values("media_id").reset_index(drop=True)
    for x, y in zip(a["features"], b["features"]):
        np.testing.assert_array_equal(np.asarray(x), np.asarray(y))


def test_multimodal_truncated_payloads_null_mode(spark):
    """Review regression: payloads that PASS the magic sniff but are
    truncated mid-header raise struct.error from unpack_from, not
    ValueError — 'null' mode must survive them (crawl-grade bytes are
    exactly where truncation happens), 'raise' mode must still fail."""
    from nrt_spark.dataops.multimodal import decode_features

    bad = spark.createDataFrame(
        [("a", bytearray(b"BM\x01\x02")),                    # short BMP
         ("b", bytearray(b"RIFF\x10\x00\x00\x00WAVEfmt ")),  # short WAV
         ("c", bytearray(b"P6\n9999999 9999999\n255\n")),    # short PPM
         ("d", None)],
        "media_id string, payload binary")
    out = (decode_features(bad, on_error="null").toPandas()
           .sort_values("media_id").reset_index(drop=True))
    assert out["features"].isna().all()
    assert out["n_bytes"].tolist() == [4, 16, 23, 0]
    with pytest.raises(Exception):
        decode_features(bad, on_error="raise").collect()


def test_media_codecs_roundtrip():
    """Pure-numpy codecs: encode -> decode is the identity for 24-bit
    BMP (incl. non-multiple-of-4 widths and top-down images), binary
    PPM (incl. header comments), and PCM16 WAV (incl. stereo
    mono-mix and 8-bit)."""
    import struct

    from nrt_spark.dataops.multimodal import (_hash_stream, decode_bmp,
                                              decode_ppm, decode_wav,
                                              encode_bmp, encode_ppm,
                                              encode_wav)

    rgb = _hash_stream("img", 7 * 5 * 3).reshape(5, 7, 3)   # w=7: padded rows
    np.testing.assert_array_equal(decode_bmp(encode_bmp(rgb)), rgb)
    np.testing.assert_array_equal(decode_ppm(encode_ppm(rgb)), rgb)

    # top-down BMP: negate the height field in the encoded header and
    # flip the pixel data rows — must decode to the same image
    enc = bytearray(encode_bmp(rgb))
    h = struct.unpack_from("<i", enc, 22)[0]
    struct.pack_into("<i", enc, 22, -h)
    stride = (7 * 3 + 3) & ~3
    body = np.frombuffer(bytes(enc[54:]), np.uint8).reshape(5, stride)
    enc[54:] = body[::-1].tobytes()
    np.testing.assert_array_equal(decode_bmp(bytes(enc)), rgb)

    # PPM comments in the header
    with_comment = b"P6\n# a comment\n7 5\n255\n" + rgb.tobytes()
    np.testing.assert_array_equal(decode_ppm(with_comment), rgb)

    samples = _hash_stream("aud", 64 * 2).view("<i2")
    dec, rate = decode_wav(encode_wav(samples, 8000))
    assert rate == 8000
    np.testing.assert_array_equal((dec * 32768.0).astype("<i2"), samples)

    # stereo 16-bit: channels mono-mix to the sample-pair mean
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    pcm = struct.pack("<4h", 100, 200, -50, 50)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(pcm)) + pcm)
    dec2, _ = decode_wav(wav)
    np.testing.assert_allclose(dec2 * 32768.0, [150.0, 0.0])

    # 8-bit PCM: unsigned, offset-128
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav8 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8 + 3)
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
            + b"data" + struct.pack("<I", 3) + bytes([128, 0, 255]))
    dec8, _ = decode_wav(wav8)
    np.testing.assert_allclose(dec8, [0.0, -1.0, 127 / 128])


def test_media_features_and_distributed_decode(spark, docs):
    """The real decode path end to end on Spark: per-row features from
    the distributed mapInPandas equal the single-process
    media_features() fold on identical synthetic payloads, for all
    three formats, at any partitioning."""
    from nrt_spark.dataops.multimodal import (decode_features,
                                              docs_as_synth_media,
                                              media_features,
                                              synth_media_payload)

    media = docs_as_synth_media(docs).repartition(4)
    got = (decode_features(media, dim=8).toPandas()
           .sort_values("media_id").reset_index(drop=True))
    assert len(got) == 7
    kinds = ("bmp", "ppm", "wav")
    for _, row in got.iterrows():
        payload = synth_media_payload(
            row["media_id"], kinds[int(row["media_id"]) % 3])
        assert row["n_bytes"] == len(payload)
        want = np.asarray(media_features(payload, 8), np.float32)
        np.testing.assert_array_equal(
            np.asarray(row["features"], np.float32), want)
    # features are non-trivial (not all equal / not all zero)
    flat = np.concatenate([np.asarray(f) for f in got["features"]])
    assert np.ptp(flat) > 0

    with pytest.raises(ValueError, match="unknown synthetic media"):
        synth_media_payload("1", "gif")


def test_frame_sample(spark, docs):
    from nrt_spark.dataops.multimodal import docs_as_media, frame_sample

    media = docs_as_media(docs.withColumn("doc_id", F.col("doc_id").cast("string")))
    fs = frame_sample(media.withColumn(
        "meta", F.expr("named_struct('kind','video','width',64,'height',64,"
                       "'sample_rate',CAST(NULL AS INT),'n_frames',10)")),
        every_n=3)
    assert fs.filter("media_id = '1'").count() == 4  # frames 0,3,6,9


def test_ivf_topk_recall(spark):
    """IVF (deterministic k-means coarse quantizer): searching nprobe=6
    of 16 cells must recover most of the exact brute-force top-10."""
    from nrt_spark.dataops.simsearch import ivf_train, ivf_topk, ivf_assign, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C = ivf_train(emb, n_cells=16, iters=8)
    assert C.shape[1] == 64
    probe = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(emb, probe, k=10).collect()}
    approx = {r["vec_id"] for r in
              ivf_topk(emb, probe, C, k=10, nprobe=6).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, recall
    # assignment is a total partition: every vector lands in exactly one cell
    cells = ivf_assign(emb, C).groupBy("cell").count().collect()
    assert sum(r["count"] for r in cells) == emb.count()
    # determinism: retraining gives identical centroids
    import numpy as np
    np.testing.assert_array_equal(C, ivf_train(emb, n_cells=16, iters=8))


def test_cosine_topk_hof_and_udf_branches_identical(spark, tmp_path):
    """cosine_topk runs its Arrow batch kernel whatever the table size:
    on a small file-backed table the executed plan holds
    ArrowEvalPython, and the top-15 rows — cosines AND tie order — are
    bit-identical to DuckDB's sequential ``list_dot_product`` fold over
    the same parquet.  Two copies of sf0.001 (ids offset by 1000) make
    every cosine a tie, broken by id on both engines."""
    import duckdb

    from nrt_spark.dataops import simsearch as SS

    path = str(tmp_path / "emb2x.parquet")
    duckdb.sql(
        "COPY (SELECT vec_id, embedding FROM "
        "'/root/testdata/sf0.001/embeddings.parquet' UNION ALL "
        "SELECT vec_id + 1000, embedding FROM "
        "'/root/testdata/sf0.001/embeddings.parquet') "
        f"TO '{path}' (FORMAT PARQUET)")
    emb = spark.read.parquet(path)
    probe = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    top = SS.cosine_topk(emb, probe, k=15)
    assert "ArrowEvalPython" in \
        top._jdf.queryExecution().executedPlan().toString()
    got = [tuple(r) for r in top.collect()]
    want = duckdb.sql(f"""
        WITH probe AS (SELECT embedding AS p FROM '{path}' WHERE vec_id = 3)
        SELECT vec_id,
               round(list_dot_product(e.embedding::DOUBLE[], p::DOUBLE[])
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(p::DOUBLE[], p::DOUBLE[]))),
                     6) AS cosine
        FROM '{path}' e, probe
        ORDER BY cosine DESC, vec_id LIMIT 15""").fetchall()
    assert got == want
    assert got[0] == (3, 1.0) and got[1] == (1003, 1.0)      # a tie


def test_cosine_topk_branches_identical_on_degenerate_vectors(
        spark, tmp_path):
    """Degenerate rows through the batch kernel: a zero-norm vector
    (0/0), a NaN-containing vector (a NaN cosine would sort FIRST
    desc), a NULL vector and a ragged vector all get a NULL cosine and
    rank after the two real matches."""
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)
    from nrt_spark.dataops import simsearch as SS

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),            # zero norm
        (3, [float("nan"), 1.0, 1.0, 1.0]),   # NaN component
        (4, None),                            # NULL vector
        (5, [1.0, 2.0]),                      # ragged
        (6, [4.0, 3.0, 2.0, 1.0]),
    ]
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(FloatType()))])
    path = str(tmp_path / "deg_emb")
    spark.createDataFrame(rows, schema).write.parquet(path)
    emb = spark.read.parquet(path)
    got = [tuple(r) for r in
           SS.cosine_topk(emb, [1.0, 2.0, 3.0, 4.0], k=6).collect()]
    assert got[:2] == [(1, 1.0), (6, 0.666667)]
    assert sorted(got[2:]) == [(2, None), (3, None), (4, None), (5, None)]


def test_lsh_assign_buckets_are_packed_sign_bits(spark):
    """lsh_assign (single plane set, seed "nrt", 8 planes) files every
    sf0.001 vector in the bucket numpy packs from ``X @ P.T >= 0``
    (bit p weighted 1 << p), through an Arrow batch UDF with no HOF
    dot fold in the plan.  A NaN-containing vector sets every bit, as
    the SQL oracles' ``CASE WHEN dot >= 0`` does (NaN orders above
    every double in Spark and DuckDB)."""
    import duckdb

    from nrt_spark.dataops import simsearch as SS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned = SS.lsh_assign(emb, n_planes=8, seed="nrt")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "aggregate(" not in plan and "zip_with" not in plan
    got = {r["vec_id"]: r["bucket"]
           for r in assigned.select("vec_id", "bucket").collect()}
    tbl = duckdb.sql("SELECT vec_id, embedding FROM "
                     "'/root/testdata/sf0.001/embeddings.parquet'").df()
    X = np.asarray([np.asarray(v, np.float64) for v in tbl["embedding"]])
    P = SS.hyperplanes(X.shape[1], 8, "nrt")
    want = ((X @ P.T >= 0) * (1 << np.arange(8))).sum(axis=1)
    assert got == dict(zip(tbl["vec_id"].tolist(), want.tolist()))
    assert len(set(want.tolist())) > 100              # not a constant

    nan_vec = spark.createDataFrame(
        [(1, [float("nan"), 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>")
    assert SS.lsh_assign(nan_vec, n_planes=3, dim=4).first()["bucket"] == 7
    assert {r["bucket"] for r in SS.lsh_multi_assign(
        nan_vec, n_planes=3, n_tables=2, dim=4).collect()} == {7}
    assert duckdb.sql(
        "SELECT list_dot_product(['nan'::DOUBLE, 1, 1, 1], [1.0, 2, 3, 4])"
        " >= 0").fetchone()[0] is True


def test_lsh_neardup_recall_vs_brute(spark):
    """LSH-bucketed pair mining (the scale path, no cross join) must be a
    subset of the brute-force threshold join with high recall; expected
    recall for b=4 planes, T=16 tables at cosine>=0.4 is ~0.94."""
    from nrt_spark.dataops.simsearch import lsh_neardup_pairs, cosine_similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = {(r["id_a"], r["id_b"])
           for r in lsh_neardup_pairs(emb, threshold=0.4).collect()}
    a = emb.select(F.col("vec_id").alias("a"),
                   F.transform("embedding", lambda x: x.cast("double"))
                   .alias("va"))
    b = emb.select(F.col("vec_id").alias("b"),
                   F.transform("embedding", lambda x: x.cast("double"))
                   .alias("vb"))
    brute = {(r["a"], r["b"]) for r in
             a.join(b, F.col("a") < F.col("b"))
             .filter(cosine_similarity(F.col("va"), F.col("vb")) >= 0.4)
             .select("a", "b").collect()}
    assert lsh <= brute                       # exact verify: no false pairs
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.8, f"recall {recall:.3f} ({len(lsh)}/{len(brute)})"
    # the candidate plan must not contain a cartesian/inequality join
    plan = lsh_neardup_pairs(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_connected_components(spark):
    """Min-label propagation with pointer doubling: a 40-node chain
    (diameter 39 — far beyond a per-hop algorithm's budget of 6 rounds)
    plus a triangle and an isolated pair resolve to three components
    labeled by their min member."""
    from nrt_spark.dataops.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 40)]
    edges = spark.createDataFrame(
        chain + [(110, 111), (111, 112), (112, 110),   # triangle
                 (120, 121)],                          # pair
        "src long, dst long")
    want = {i: 1 for i in range(1, 41)}
    want.update({110: 110, 111: 110, 112: 110, 120: 120, 121: 120})
    # default path (small graph -> driver union-find)
    got = {r["node"]: r["component"]
           for r in connected_components(edges, max_iter=6).collect()}
    assert got == want
    # distributed propagation path (forced via telemetry)
    tel: dict = {}
    got_d = {r["node"]: r["component"]
             for r in connected_components(edges, max_iter=6,
                                           telemetry=tel).collect()}
    assert got_d == want
    assert tel["rounds"] >= 1

    # non-convergence is loud, not silent: 1 round cannot close a chain
    # (telemetry forces the iterative path; the union-find fast path
    # has no round budget)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            spark.createDataFrame(chain, "src long, dst long"), max_iter=1,
            telemetry={})


def test_cc_driver_matches_distributed(spark):
    """The round-8 small-graph fast path (driver union-find below
    CC_DRIVER_MAX_EDGES) must produce BIT-IDENTICAL labels to the
    distributed min-label propagation on an irregular random graph."""
    import random

    from nrt_spark.dataops.dedup import connected_components

    rng = random.Random(8)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {(r["node"], r["component"])
            for r in connected_components(df).collect()}
    dist = {(r["node"], r["component"])
            for r in connected_components(df, telemetry={}).collect()}
    assert fast == dist and len(fast) > 0


def test_cc_null_endpoints_skip_fast_path(spark):
    """An edge list with NULL endpoints (e.g. pairs built through an
    outer join) must not crash the driver union-find (Python `<` raises
    on None): the probe routes such graphs to the distributed loop,
    whose output on the non-NULL subgraph matches the NULL-free run."""
    from nrt_spark.dataops.dedup import connected_components

    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long")
    dirty = clean.unionByName(spark.createDataFrame(
        [(None, 5), (6, None)], "src long, dst long"))
    want = {(r["node"], r["component"])
            for r in connected_components(clean).collect()}
    got = {(r["node"], r["component"])
           for r in connected_components(dirty).collect()}
    assert want <= got            # non-NULL subgraph labels unchanged


def test_pack_sequences_invariants(spark):
    """Packing: every row is exactly seq_len tokens; total real tokens =
    sum(n_tok) + one EOS per doc; shards partition the docs; packing is
    invariant to input partitioning."""
    from nrt_spark.datagen import generate_tokens
    from nrt_spark.tokens import pack_sequences, EOS_TOKEN, PAD_TOKEN

    toks = generate_tokens(spark, 120, n_obs=70)
    packed = pack_sequences(toks, seq_len=256, num_shards=8).toPandas()
    assert all(len(t) == 256 for t in packed["tokens"])
    total_real = int(packed["n_real"].sum())
    expect = int(toks.agg(F.sum("n_tok")).first()[0]) + 120  # + EOS each
    assert total_real == expect
    eos = sum(int((np.asarray(t) == EOS_TOKEN).sum())
              for t in packed["tokens"])
    assert eos == 120
    # pads only appear in each shard's final pack
    last = packed.sort_values("pack_idx").groupby("shard").tail(1)
    pad_total = sum(int((np.asarray(t) == PAD_TOKEN).sum())
                    for t in packed["tokens"])
    pad_last = sum(int((np.asarray(t) == PAD_TOKEN).sum())
                   for t in last["tokens"])
    assert pad_total == pad_last
    # repartitioning must not change the packing
    repacked = pack_sequences(toks.repartition(13), seq_len=256,
                              num_shards=8).toPandas()
    a = packed.sort_values(["shard", "pack_idx"]).reset_index(drop=True)
    b = repacked.sort_values(["shard", "pack_idx"]).reset_index(drop=True)
    assert len(a) == len(b)
    for ta, tb in zip(a["tokens"], b["tokens"]):
        np.testing.assert_array_equal(np.asarray(ta), np.asarray(tb))


@pytest.mark.skipif(not __import__("pathlib").Path(
    "/root/testdata/sf0.001").exists(), reason="driver testdata absent")
def test_approx_distinct_within_error_bound(spark):
    """HLL++ sketches have no cross-engine oracle, but their relative
    error is bounded: compare against exact distinct counts on the
    driver data (rsd default 5%, explicit 1% column tighter)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("exact_u"),
                 F.approx_count_distinct("user_id").alias("approx_u"),
                 F.countDistinct("event_id").alias("exact_e"),
                 F.approx_count_distinct("event_id", 0.01)
                 .alias("approx_e"))
            .collect())
    assert rows
    for r in rows:
        assert abs(r["approx_u"] - r["exact_u"]) <= max(3, 0.15 * r["exact_u"])
        assert abs(r["approx_e"] - r["exact_e"]) <= max(3, 0.05 * r["exact_e"])


def test_corpus_pipeline_deterministic_funnel(spark):
    """End-to-end corpus build: monotone funnel, all stage decisions
    hash-derived -> identical results on a different partitioning."""
    from nrt_spark.dataops.corpus import build_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed, stages = build_corpus(docs, num_shards=4, seq_len=128)
    counts = {k: df.count() for k, df in stages.items()}
    n_in = docs.count()
    assert (n_in >= counts["exact_dedup"] >= counts["neardup_dedup"]
            >= counts["decontaminated"] >= counts["quality_filtered"])

    # repartition the input: every count and the packed checksum is
    # unchanged (the 10^12-doc reproducibility contract)
    docs2 = docs.repartition(7)
    packed2, stages2 = build_corpus(docs2, num_shards=4, seq_len=128)
    assert {k: df.count() for k, df in stages2.items()} == counts

    import pyspark.sql.functions as F

    def pack_checksum(df):
        row = (df.select(F.sum(F.col("pack_idx") * 131
                               + F.aggregate("tokens", F.lit(0),
                                             lambda a, t: a + t))
                         .alias("ck"),
                         F.count("*").alias("n")).collect()[0])
        return (int(row["ck"]), int(row["n"]))

    assert pack_checksum(packed) == pack_checksum(packed2)


def test_corpus_tokenize_matches_oracle_counts(spark):
    """The Catalyst tokenizer agrees with the token-count query's
    whitespace semantics: n_tok == n_words per doc."""
    from nrt_spark.dataops.corpus import tokenize
    from nrt_spark.dataops.textstats import token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = tokenize(docs).select("doc_id", "n_tok")
    w = token_counts(docs).select("doc_id", "n_words")
    joined = t.join(w, "doc_id")
    assert joined.filter("n_tok != n_words").count() == 0


def test_ann_recall_on_planted_neighbors(spark):
    """ANN quality contract: on vectors with real near-neighbor
    structure (cosine ~0.95+, what dedup/retrieval actually hunts),
    both scale paths recall every planted neighbor.  The driver-table
    embeddings are near-orthogonal (top-10 cosine ~0.25) — the
    adversarial case where pruning and recall trade off by theory
    (recall = 1-(1-p^b)^T, p = 1 - theta/pi), so recall is asserted
    here on planted structure, not there."""
    import numpy as np
    from nrt_spark.dataops.simsearch import ivf_train, ivf_topk, lsh_topk

    rng = np.random.default_rng(42)
    base = rng.normal(size=(200, 64))
    probe = base[0] / np.linalg.norm(base[0])
    planted = {}
    for i in range(5):                       # cosine ~0.97 neighbors
        v = probe + 0.25 * rng.normal(size=64) / np.sqrt(64)
        base[100 + i] = v * 3.0
        planted[100 + i] = True
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    p = [float(x) for x in probe]

    lsh_ids = {r["vec_id"]
               for r in lsh_topk(emb, p, k=6, n_planes=6,
                                 n_tables=8).collect()}
    assert set(planted) <= lsh_ids, f"LSH missed {set(planted) - lsh_ids}"

    C = ivf_train(emb, n_cells=8, iters=5)
    ivf_ids = {r["vec_id"]
               for r in ivf_topk(emb, p, C, k=6, nprobe=3).collect()}
    assert set(planted) <= ivf_ids, f"IVF missed {set(planted) - ivf_ids}"


def test_ivf_assign_matmul_path_matches_catalyst(spark):
    """The two ivf_assign strategies — inlined Catalyst dots (small
    n_cells) and the pandas-UDF matmul (large n_cells, where N inlined
    dots would blow up the generated expression tree) — agree on every
    cell assignment, at both a small and a large trained cell count."""
    import numpy as np

    from nrt_spark.dataops.simsearch import ivf_assign, ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for n_cells in (16, 64):
        C = ivf_train(emb, n_cells=n_cells, iters=5)
        catalyst = ivf_assign(emb, C, max_inline_cells=10_000) \
            .select("vec_id", "cell").toPandas() \
            .sort_values("vec_id").reset_index(drop=True)
        matmul = ivf_assign(emb, C, max_inline_cells=0) \
            .select("vec_id", "cell").toPandas() \
            .sort_values("vec_id").reset_index(drop=True)
        np.testing.assert_array_equal(
            catalyst["cell"].to_numpy(), matmul["cell"].to_numpy(),
            err_msg=f"n_cells={n_cells}")
        # every cell non-empty would be too strong for tiny data; but
        # assignments must cover more than one cell for the parity to
        # mean anything
        assert catalyst["cell"].nunique() > 1
    # default threshold routes n_cells=64 to the matmul path
    assert len(C) == 64 and 64 > 32


def test_ivf_train_hash_sample_path(spark):
    """The hash-threshold sample pre-filter (active when the table
    exceeds oversample*sample rows): deterministic across partition
    layouts, bit-identical to the duckdb/numpy twin's mirrored filter,
    and a strict subset — so the no-filter branch at test scale stays
    bit-identical to the pre-filter era by construction."""
    import numpy as np

    from nrt_spark.dataops.simsearch import (IVF_SAMPLE_OVERSAMPLE,
                                             ivf_train)
    from nrt_spark.oracle import ivf_ann_oracle

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n_total = emb.count()
    sample = 100
    assert n_total > IVF_SAMPLE_OVERSAMPLE * sample  # filter active

    C1 = ivf_train(emb, n_cells=8, iters=5, sample=sample)
    C2 = ivf_train(emb.repartition(16), n_cells=8, iters=5,
                   sample=sample)
    np.testing.assert_array_equal(C1, C2)       # layout-independent
    C_twin, _, _ = ivf_ann_oracle(sf, n_cells=8, iters=5, sample=sample)
    np.testing.assert_array_equal(C1, C_twin)   # cross-engine bit-exact


def test_ivf_footer_estimate_plan_gate(spark):
    """Review regression: ``df.inputFiles()`` reports SOURCE files even
    for filtered plans, so the footer estimate must refuse any plan
    with a row-count-changing node (the estimate would oversize the
    hash cut for the post-filter row count) while still accepting the
    row-preserving shapes ivf_train is actually handed (bare scans,
    projections, repartitions)."""
    from nrt_spark.dataops.simsearch import (_plan_preserves_source_rows,
                                             _source_row_estimate,
                                             ivf_train)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    assert _source_row_estimate(emb) == (n, True)          # footer-exact
    assert _source_row_estimate(emb.select("vec_id", "embedding")) \
        == (n, True)
    assert _source_row_estimate(emb.repartition(16)) == (n, True)
    # row-count-changing plans fall back to the scan-free probe
    for changed in (emb.filter("vec_id > 100"), emb.limit(50),
                    emb.sample(0.5, seed=1)):
        assert not _plan_preserves_source_rows(changed)
        assert _source_row_estimate(changed) is None
    # and the probe path still trains deterministically on them
    import numpy as np
    filt = emb.filter("vec_id % 2 = 0")
    Ca = ivf_train(filt, n_cells=4, iters=3, sample=50)
    Cb = ivf_train(filt.repartition(8).filter("vec_id % 2 = 0"),
                   n_cells=4, iters=3, sample=50)
    np.testing.assert_array_equal(Ca, Cb)


def test_lsh_neardup_duplicate_collapse_equivalence(spark):
    """The duplicate-collapse path must emit EXACTLY the pair set of
    the uncollapsed miner on duplicate-heavy data — the small-sf driver
    tables have unique vectors, so this is the semantics pin for the
    branch the sf1 pass exercised (identical buckets, identical
    cosines, intra-group self-cosine included)."""
    import pandas as pd

    from nrt_spark.dataops.simsearch import lsh_neardup_pairs

    base = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(120)
    # 3 replicas of every vector with offset ids (the sf1 shape)
    dup = base
    for k in (1, 2):
        dup = dup.unionAll(
            base.withColumn("vec_id", F.col("vec_id") + F.lit(10_000 * k)))

    def norm(df):
        return (df.toPandas().sort_values(["id_a", "id_b"])
                .reset_index(drop=True))

    got = norm(lsh_neardup_pairs(dup, threshold=0.4, n_planes=4,
                                 n_tables=16, collapse_duplicates=True))
    want = norm(lsh_neardup_pairs(dup, threshold=0.4, n_planes=4,
                                  n_tables=16, collapse_duplicates=False))
    # duplicates must actually be present for this to prove anything:
    # every vector has 3 copies -> at least C(3,2)*120 intra pairs
    assert len(want) >= 3 * 120
    pd.testing.assert_frame_equal(got, want)


def test_neardup_df_cap_duplicate_collapse(spark, tmp_path):
    """Round-6 sf10 probe regression: with more duplicate copies than
    the absolute MAX_SHINGLE_DF, the UNCOLLAPSED miners count copies
    into every shingle's df and emit ZERO pairs — silently missing the
    exact-duplicate pairs a dedup miner exists to find.  The collapsed
    default (df over DISTINCT texts) must keep mining, match the
    rewritten DuckDB oracle exactly, and emit the intra-group pairs."""
    import duckdb
    import pandas as pd

    from nrt_spark import queries as Q
    from nrt_spark.dataops import dedup as D
    from nrt_spark.queries_docs import MAX_SHINGLE_DF

    n_docs, n_rep = 50, MAX_SHINGLE_DF + 10
    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(n_docs)
    dup = base
    for k in range(1, n_rep):
        dup = dup.unionAll(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(100_000 * k)))
    dup.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    # the old failure mode, pinned: uncollapsed + absolute cap = empty
    assert D.minhash_lsh_pairs(dup, n=3, max_df=MAX_SHINGLE_DF,
                               collapse_duplicates=False).count() == 0
    assert D.jaccard_pairs(dup, n=3, threshold=0.08, max_df=MAX_SHINGLE_DF,
                           collapse_duplicates=False).count() == 0

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    for name, val in [("minhash_lsh_pairs", "n_bands"),
                      ("dedup_jaccard_pairs", "jaccard")]:
        sql = Q.oracle_sql()[name]
        got = (Q.queries()[name](spark, str(tmp_path)).toPandas()
               .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
        want = (con.sql(sql() if callable(sql) else sql).df()
                .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
        # every doc with >=1 surviving shingle contributes its whole
        # duplicate group: at least C(n_rep, 2) intra pairs per doc
        assert len(got) >= n_rep * (n_rep - 1) // 2, name
        pd.testing.assert_frame_equal(
            got, want.astype(got.dtypes.to_dict()), check_exact=True), name


def test_edit_distance_duplicate_collapse_equivalence(spark, tmp_path):
    """dedup_edit_distance's prefix-group collapse vs a direct
    DuckDB run of its own oracle SQL on duplicate-heavy constructed
    documents (3 replicas of each sf0.001 doc) — identical pair set,
    including the distance-0 intra-group pairs."""
    import duckdb
    import pandas as pd

    from nrt_spark import queries as Q

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(150)
    dup = base
    for k in (1, 2):
        dup = dup.unionAll(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(10_000 * k)))
    dup.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = (Q.dedup_edit_distance(spark, str(tmp_path)).toPandas()
           .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    con = duckdb.connect()
    # Spark writes a directory; DuckDB needs the part-file glob
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    want = (con.sql(Q.oracle_sql()["dedup_edit_distance"]).df()
            .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    assert len(want) >= 3 * 150          # intra-group zeros present
    pd.testing.assert_frame_equal(
        got.astype({"dist": "int64"}), want.astype({"dist": "int64"}))


def test_ann_oracle_sign_margins():
    """Guard for the cross-engine ANN oracles' latent fragility: they
    compare sign-threshold (LSH plane dots) and argmax (IVF cell)
    decisions computed via numpy BLAS matmuls on the Spark side against
    DuckDB's sequentially-summed list_dot_product.  A dot within float
    rounding error (~dim*eps ≈ 1e-14) of the threshold/tie could flip a
    bucket or cell between engines.  This test fails LOUDLY with the
    offending vector if the driver data + seeds ever produce a margin
    below 1e-9 — turning a would-be mysterious hash mismatch into a
    diagnosable data-change signal."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from nrt_spark.dataops import simsearch as SS
    from nrt_spark.oracle import ivf_ann_oracle

    sf_dir = os.environ.get("NRT_TEST_SF_DIR", "/root/testdata/sf0.01")
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"]).to_pandas()
    X = np.asarray([np.asarray(v, dtype=np.float64)
                    for v in tbl["embedding"]])
    dim, eps = X.shape[1], 1e-9

    # every plane-dot used by embedding_neardup_lsh (16x4) and
    # lsh_topk (8x6) — including the probe vector's own dots
    probe = X[0]
    for n_planes, n_tables, seed in ((4, 16, "nrt"), (6, 8, "nrt")):
        P = np.concatenate([SS.hyperplanes(dim, n_planes, f"{seed}-{t}")
                            for t in range(n_tables)])
        dots = X @ P.T
        worst = np.abs(dots).min()
        assert worst > eps, (
            f"LSH sign margin {worst:.3e} below {eps} for planes "
            f"(b={n_planes}, T={n_tables}, seed={seed}) at vector "
            f"{tbl['vec_id'][np.abs(dots).min(axis=1).argmin()]}: the "
            "DuckDB oracle's sequential dot could flip this bucket")
        pdots = np.abs(probe @ P.T).min()
        assert pdots > eps, "probe bucket within sign-flip margin"
    # single-table lsh_topk/lsh_assign path (seed without -t suffix)
    P1 = SS.hyperplanes(dim, 8, "nrt")
    assert np.abs(X @ P1.T).min() > eps

    # IVF: argmax tie margins for cell assignment + the probe's
    # nprobe-th cell cut
    C, pr, cells = ivf_ann_oracle(sf_dir, n_cells=16, iters=8, nprobe=6)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ np.asarray(C).T
    top2 = np.sort(sims, axis=1)[:, -2:]
    margin = (top2[:, 1] - top2[:, 0]).min()
    assert margin > eps, (
        f"IVF argmax margin {margin:.3e} below {eps}: engines could "
        "assign different cells")
    psims = np.sort(np.asarray(C) @ (pr / np.linalg.norm(pr)))[::-1]
    assert psims[5] - psims[6] > eps, "nprobe cut within tie margin"


def test_ivf_assign_zero_vector_is_null_on_both_paths(spark):
    """Zero-norm embeddings get a NULL cell on BOTH ivf_assign
    strategies (Catalyst's 0/0 division is NULL; the matmul path
    mirrors it with a masked nullable Int32) — a zero vector must
    never silently land in cell 0."""
    import numpy as np

    from nrt_spark.dataops.simsearch import ivf_assign

    C = np.eye(4)[:3]                      # 3 centroids, dim 4
    df = spark.createDataFrame(
        [("z", [0.0, 0.0, 0.0, 0.0]), ("a", [1.0, 0.0, 0.0, 0.0])],
        "vec_id string, embedding array<double>")
    for mic in (10_000, 0):                # inline path, matmul path
        rows = {r["vec_id"]: r["cell"]
                for r in ivf_assign(df, C, max_inline_cells=mic).collect()}
        assert rows["z"] is None, f"max_inline_cells={mic}"
        assert rows["a"] == 0, f"max_inline_cells={mic}"


def test_null_and_ragged_embeddings_propagate_null(spark):
    """A NULL or wrong-length embedding row must get NULL outputs —
    the retired Catalyst fold's propagation (zip_with pads mismatched
    lengths with NULL) — not crash the Arrow batch: a bare np.asarray
    over a batch containing None raises ValueError('inhomogeneous
    shape') and fails the whole job.  Covers all four vectorized UDFs:
    cosine_topk, both ivf_assign strategies, and lsh_multi_assign."""
    import numpy as np

    from nrt_spark.dataops.simsearch import (cosine_topk, ivf_assign,
                                             lsh_multi_assign)

    df = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0]),
         ("n", None),
         ("r", [1.0, 2.0]),               # ragged: wrong length
         ("b", [0.0, 1.0, 0.0, 0.0])],
        "vec_id string, embedding array<double>")

    top = {r["vec_id"]: r["cosine"]
           for r in cosine_topk(df, [1.0, 0.0, 0.0, 0.0], k=4).collect()}
    assert top["a"] == 1.0 and top["b"] == 0.0
    assert top["n"] is None and top["r"] is None

    C = np.eye(4)[:3]
    for mic in (10_000, 0):                # inline path, matmul path
        cells = {r["vec_id"]: r["cell"]
                 for r in ivf_assign(df, C, max_inline_cells=mic).collect()}
        assert cells["a"] == 0 and cells["b"] == 1, f"mic={mic}"
        assert cells["n"] is None and cells["r"] is None, f"mic={mic}"

    bk = lsh_multi_assign(df, n_planes=2, n_tables=2, dim=4)
    per_id = {r["vec_id"] for r in bk.collect()}
    assert per_id == {"a", "b"}, (
        "un-bucketable NULL/ragged vectors must emit no candidate rows")

    # the single-table assign must NULL-propagate too: a bucket 0
    # would file every NULL/ragged vector together and leak phantom
    # rows to any probe hashing there
    from nrt_spark.dataops.simsearch import lsh_assign

    buckets = {r["vec_id"]: r["bucket"]
               for r in lsh_assign(df, n_planes=2, dim=4).collect()}
    assert buckets["n"] is None and buckets["r"] is None
    assert buckets["a"] is not None and buckets["b"] is not None


def test_null_embeddings_in_all_pairs_probe_and_train(spark):
    """The remaining NULL-embedding surfaces: cosine_all_pairs must
    skip NULL rows on BOTH the driver matrix and the executor id
    stream (a one-sided drop KeyErrors in the task), the dim probe
    must read past a NULL first row, an all-NULL table yields the
    empty pair set, and ivf_train drops NULL rows from its sample
    (mirrored by the oracle twin) instead of crashing the stack."""
    import numpy as np

    from nrt_spark.dataops.simsearch import (cosine_all_pairs, ivf_train,
                                             lsh_multi_assign)

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0]), (4, None)],
        "vec_id long, embedding array<double>")
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"]
             for r in cosine_all_pairs(df, threshold=0.5).collect()}
    assert pairs == {(1, 3): 1.0}, pairs

    all_null = df.filter("embedding IS NULL")
    assert cosine_all_pairs(all_null, threshold=0.5).count() == 0

    # the LSH scale twin must agree on the degenerate input: empty pair
    # set / empty top-k, not a dim-probe ValueError
    from nrt_spark.dataops.simsearch import lsh_neardup_pairs, lsh_topk

    for collapse in (True, False):
        assert lsh_neardup_pairs(
            all_null, collapse_duplicates=collapse).count() == 0
    for nt in (1, 4):
        assert lsh_topk(all_null, [1.0, 0.0], k=3, n_tables=nt).count() == 0

    # NULL-first table: the dim probe must scan past it (a bare
    # first()[0] is TypeError: len(None))
    nf = spark.createDataFrame(
        [(2, None), (1, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>").coalesce(1)
    assert {r["vec_id"] for r in
            lsh_multi_assign(nf, n_planes=2, n_tables=2).collect()} \
        == {1, 3}

    C = ivf_train(df, n_cells=2, iters=2)
    assert C.shape == (2, 2) and np.isfinite(C).all()

    # NULLs must not count toward the sample quota: a table whose first
    # `sample` ids are NULL-heavy still trains on non-NULL rows (the
    # filter runs BEFORE the ordered limit), and too few non-NULL rows
    # for n_cells is a clear contract error, not a short matrix
    skew = spark.createDataFrame(
        [(i, None if i < 50 else [float(i), 1.0]) for i in range(60)],
        "vec_id long, embedding array<double>")
    C2 = ivf_train(skew, n_cells=4, iters=2, sample=8)
    assert C2.shape == (4, 2)
    with pytest.raises(ValueError, match="centroid"):
        ivf_train(skew.filter("vec_id >= 58"), n_cells=4, iters=2)


def test_contamination_duplicate_collapse_equivalence(spark):
    """The collapse-first decontamination branch must flag EXACTLY the
    doc_ids of the uncollapsed shingle semi-join on duplicate-heavy
    data — the semantics pin for the branch the sf100 probe exercises
    (driver-scale corpora are unique, so the auto gate never collapses
    there)."""
    from nrt_spark.dataops.dedup import contamination_flags

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    dup = base
    for k in (1, 2):
        dup = dup.unionAll(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(10**9 * k)))
    train = dup.filter("source <> 'src19'")
    ev = dup.filter("source = 'src19'")
    got = sorted(r["doc_id"] for r in
                 contamination_flags(train, ev, n=4, collapse=True).collect())
    want = sorted(r["doc_id"] for r in
                  contamination_flags(train, ev, n=4,
                                      collapse=False).collect())
    assert got == want and len(want) > 0


def test_collapsed_branch_keeps_null_text_docs(spark, tmp_path, monkeypatch):
    """NULL-text docs must survive the duplicate-collapse round-trip:
    _dup_groups puts them in ONE group (GROUP BY treats NULLs as
    equal) but a plain equi-join on the text key would never match
    them back, silently dropping those doc_ids from the collapsed
    branch only — the branches must emit identical rows (null-safe
    join in dedup.expand_per_doc).  Pins both collapse_per_doc and
    doc_lang_quality's shared expand."""
    import pandas as pd

    from nrt_spark.dataops import textstats as TS
    from nrt_spark.dataops.dedup import collapse_per_doc
    from nrt_spark import queries as Q

    def canon(pdf):
        pdf = pdf.reindex(sorted(pdf.columns), axis=1).astype(str)
        return (pdf.sort_values(list(pdf.columns))
                .reset_index(drop=True))

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(20)
    nulls = (base.limit(3)
             .withColumn("doc_id", F.col("doc_id") + F.lit(10**8))
             .withColumn("text", F.lit(None).cast("string")))
    dup = base.unionAll(nulls)
    for k in (1, 2):
        dup = dup.unionAll(base.unionAll(nulls).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10**9 * k)))

    got = canon(collapse_per_doc(dup, TS.language_id,
                                 collapse=True).toPandas())
    want = canon(collapse_per_doc(dup, TS.language_id,
                                  collapse=False).toPandas())
    assert len(got) == dup.count(), "collapsed branch dropped docs"
    pd.testing.assert_frame_equal(got, want)

    path = str(tmp_path / "documents.parquet")
    dup.write.parquet(path)
    run = Q.queries()["doc_lang_quality"]
    monkeypatch.setattr("nrt_spark.dataops.dedup.duplicate_ratio_estimate",
                        lambda docs, **kw: 0.0)
    collapsed = canon(run(spark, str(tmp_path)).toPandas())
    monkeypatch.setattr("nrt_spark.dataops.dedup.duplicate_ratio_estimate",
                        lambda docs, **kw: 1.0)
    uncollapsed = canon(run(spark, str(tmp_path)).toPandas())
    pd.testing.assert_frame_equal(collapsed, uncollapsed)


def test_duplicate_ratio_gate_regimes(spark):
    """The sampled gate reads ~1.0 on a unique corpus (map-only plan
    kept) and well below COLLAPSE_RATIO on a high-multiplicity one —
    and a sample under the trust floor returns exactly 1.0."""
    from nrt_spark.dataops.dedup import (COLLAPSE_RATIO,
                                         duplicate_ratio_estimate)

    uniq = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert duplicate_ratio_estimate(uniq) > COLLAPSE_RATIO
    # 500 distinct texts x 400 copies = 200k rows: the 2% fallback
    # fraction (derived plan, no footer) samples ~4000 rows, ~8 copies
    # of each text, so the ratio collapses
    hot = uniq.limit(500).crossJoin(spark.range(400).select(
        F.col("id").alias("k"))).select(
        (F.col("doc_id") * 1000 + F.col("k")).alias("doc_id"),
        "text", "source")
    assert duplicate_ratio_estimate(hot) < COLLAPSE_RATIO
    assert duplicate_ratio_estimate(uniq.limit(10)) == 1.0

    # bare-scan probes are cached per session (several registry queries
    # gate on the same table in one pass); derived plans are not
    from nrt_spark.dataops import dedup as D

    keys = [k for k in D._GATE_CACHE
            if k[0] == tuple(sorted(uniq.inputFiles()))]
    assert len(keys) == 1
    cached = D._GATE_CACHE[keys[0]]
    assert duplicate_ratio_estimate(uniq) == cached
