"""Similarity search over embedding columns (array<float>).

Every per-row dot product, norm and sign bit is computed in a
vectorized Arrow batch UDF (numpy over a stacked (n, dim) batch); the
Catalyst higher-order-function fold (:func:`cosine_similarity`) only
verifies candidate pairs.

- :func:`cosine_topk` — brute-force exact top-k against a probe vector,
  the baseline every ANN variant is checked against.
- :func:`lsh_assign` / :func:`lsh_topk` — random-hyperplane LSH: each
  vector gets a b-bit bucket from the signs of dot products with
  deterministic (seed-derived) hyperplanes; search touches only the probe
  bucket (scale path: bucket becomes the partition key, turning ANN into
  a partition-pruned scan).
- :func:`ivf_train` / :func:`ivf_assign` / :func:`ivf_topk` — IVF: a
  deterministic k-means coarse quantizer; search ranks only the
  ``nprobe`` cells nearest the probe.
"""

from __future__ import annotations

import hashlib
import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Column, functions as F

log = logging.getLogger(__name__)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _seqfold_dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, m) dot products accumulated in DIMENSION ORDER — bit-exact
    with Catalyst's `_dot` fold (acc + x_j*c_j from j=0, one IEEE
    rounding per step) and the SQL oracles' sequential list folds.
    np.dot/BLAS uses blocked/pairwise accumulation that drifts ~1 ulp,
    enough to flip an argmax tie or a round(x, 6) cliff cross-engine.
    Vectorized ACROSS rows (one (n, m) multiply-add per dimension), so
    it keeps the order-of-magnitude win over interpreted per-row
    lambda evaluation without giving up the fold order."""
    out = np.zeros((len(X), len(C)))
    for j in range(X.shape[1]):
        out += X[:, j, None] * C[None, :, j]
    return out


def _seqfold_sqnorms(X: np.ndarray) -> np.ndarray:
    """Row squared norms in dimension order (mirrors `_norm`)."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc += X[:, j] * X[:, j]
    return acc


def _stack_batch(vecs: "pd.Series", dim: int
                 ) -> "tuple[np.ndarray, np.ndarray]":
    """Stack one Arrow batch of array<double> values into an (n, dim)
    float64 matrix plus a row-validity mask.

    A row that is NULL or not shaped (dim,) is INVALID: the retired
    Catalyst fold (``aggregate`` over the array) propagated NULL for
    such rows, but a bare ``np.asarray`` over the batch raises
    ValueError (inhomogeneous shape) and fails the whole job.  Invalid
    rows are zero-filled so the vectorized kernels still run; callers
    NULL their outputs back via the mask.  The all-valid fast path is
    one array construction, same cost as before the guard."""
    try:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if X.ndim == 2 and X.shape[1] == dim:
            return X, np.ones(len(X), dtype=bool)
    except (TypeError, ValueError):
        pass
    n = len(vecs)
    X = np.zeros((n, dim))
    valid = np.ones(n, dtype=bool)
    for i, v in enumerate(vecs):
        if v is None:
            valid[i] = False
            continue
        try:
            a = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            valid[i] = False
            continue
        if a.shape != (dim,):
            valid[i] = False
            continue
        X[i] = a
    return X, valid


def cosine_topk(embeddings: DataFrame, probe: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id"
                ) -> DataFrame:
    """Exact top-k by cosine similarity to ``probe`` (ties broken by id).

    ONE vectorized Arrow batch UDF over the sequential-fold kernels:
    bit-exact with the SQL oracles' ``list_dot_product`` fold (see
    _seqfold_dots — both accumulate in dimension order over float64).
    Zero-norm, NaN-containing, NULL and ragged vectors get a NULL
    cosine (NaN crosses Arrow ``from_pandas`` as NULL), so they rank
    last.  Rounding stays in Catalyst (F.round is HALF_UP — numpy's
    round is banker's).  No join, no shuffle except the final top-k
    (``orderBy ... limit`` = TakeOrdered, which holds only k rows per
    partition).
    """
    p = np.asarray(probe, dtype=np.float64)
    pnorm = float(np.sqrt(_seqfold_sqnorms(p[None, :]))[0])

    @F.pandas_udf("double")
    def cos_udf(vecs: pd.Series) -> pd.Series:
        X, valid = _stack_batch(vecs, len(p))
        if not len(X):
            return pd.Series([], dtype=float)
        dots = _seqfold_dots(X, p[None, :])[:, 0]
        denom = np.sqrt(_seqfold_sqnorms(X)) * pnorm
        with np.errstate(divide="ignore", invalid="ignore"):
            out = dots / denom
        # NULL/ragged vectors: NaN here -> NULL in Spark (Arrow
        # from_pandas), the retired Catalyst fold's NULL propagation
        out[~valid] = np.nan
        return pd.Series(out)

    return (
        embeddings
        .select(id_col, F.round(cos_udf(vec_col), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col).asc())
        .limit(k)
    )


def cosine_all_pairs(embeddings: DataFrame, threshold: float = 0.4,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     max_rows: int = 200_000) -> DataFrame:
    """Brute-force all-pairs cosine >= threshold — the RECALL ORACLE
    for the LSH near-dup path (O(n^2) by design; capped at ``max_rows``
    with a loud error pointing to :func:`lsh_neardup_pairs` beyond it).

    Physical strategy (replacing a self-join of 2 * n^2 Catalyst
    higher-order-function dots, which at n=20k ran minutes): the whole
    (n, dim) matrix is a broadcast variable (n=20k * 64 dims = 10 MB),
    and each Arrow batch of ids does blocked numpy matmuls against it
    — ~100x less per-pair work, no join, no shuffle.  Every surviving
    candidate (threshold minus a slack) is then RE-VERIFIED with the
    same left-to-right sequential fold the HOF/`list_dot_product`
    semantics use, so the emitted cosines and the >= threshold cut are
    bit-identical to the SQL oracle at any partitioning — the matmul
    only prunes, it never decides.

    Output: (vec_a, vec_b, cosine) with vec_a < vec_b, cosine rounded
    half-up to 6 decimals (Spark ``F.round`` semantics).

    NaN cosines (NaN-containing or zero-norm vectors) are EMITTED, not
    dropped: Spark's comparison semantics order NaN above every double,
    so ``cos >= threshold`` is TRUE there (DuckDB agrees), and
    :func:`lsh_neardup_pairs` documents NaN pairs as emitted — a numpy
    ``>=`` (False on NaN) would silently under-report recall on
    degenerate vectors, so both the matmul prune and the exact-fold cut
    treat NaN as a keep.
    """
    import decimal

    # enforce the cap BEFORE collecting: the guard must protect the
    # driver, not fire after a multi-GB toPandas already OOMed it
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_all_pairs is the O(n^2) recall oracle, capped at "
            f"{max_rows} rows (got {n}); use lsh_neardup_pairs for the "
            f"scale path")
    pdf = embeddings.select(id_col, vec_col).toPandas()
    order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    ids = pdf[id_col].to_numpy()[order]
    vals = pdf[vec_col].to_numpy()[order]
    dims = {len(v) for v in vals if v is not None}
    if len(dims) > 1:
        raise ValueError(
            f"cosine_all_pairs: mixed embedding lengths {sorted(dims)}; "
            "a ragged table has no dense similarity matrix")
    if any(v is None for v in vals):
        # a NULL vector pairs with NULL cosine under the zip_with fold
        # -> never >= threshold; dropping those rows up front is
        # equivalent and keeps the dense matrix build possible (the
        # executor stream below still carries every id — gen() skips
        # the dropped ones)
        keep = np.array([v is not None for v in vals])
        ids, vals = ids[keep], vals[keep]
        n = len(ids)
    if n == 0:
        # empty table, or every embedding NULL: the pair set is empty
        # (don't build the (0, ?) matrix — M.shape[1] would raise)
        return embeddings.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double")
    M = np.asarray([np.asarray(v, np.float64) for v in vals])
    # sequential-fold norms: acc = (acc + v_d * v_d), matching the HOF
    # aggregate and DuckDB's list_dot_product exactly (np.sum is
    # pairwise and may differ in the last ulp)
    sq = np.zeros(n)
    for d in range(M.shape[1]):
        sq = sq + M[:, d] * M[:, d]
    nrm = np.sqrt(sq)
    spark = embeddings.sparkSession
    # broadcast only the raw matrix + norms; the normalized copy is
    # derivable and would double the shipped bytes.  The broadcast's
    # lifetime is tied to the returned plan's closure — Spark's
    # ContextCleaner reclaims the blocks once the result DataFrame is
    # garbage-collected.
    bc = spark.sparkContext.broadcast((ids, M, nrm))
    slack = 1e-6
    q6 = decimal.Decimal("0.000001")

    def gen(batches):
        ids_g, M_g, nrm_g = bc.value
        with np.errstate(invalid="ignore", divide="ignore"):
            Mn_g = M_g / nrm_g[:, None]
        pos = {int(i): p for p, i in enumerate(ids_g)}
        for bpdf in batches:
            a_ids = bpdf[id_col].to_numpy()
            out = {"vec_a": [], "vec_b": [], "cosine": []}
            for s in range(0, len(a_ids), 1024):
                chunk = a_ids[s:s + 1024]
                # the stream carries EVERY id; rows whose embedding was
                # NULL are absent from pos (dropped on the driver) and
                # can be in no pair — skip them instead of KeyError.
                # One pos.get pass (same cost as the original single
                # lookup on NULL-free tables); a plan-level isNotNull
                # filter on the stream would instead force the scan to
                # READ the vector column, regressing the pinned
                # id-only ReadSchema (test_plan_shapes).
                ai = np.fromiter((pos.get(int(i), -1) for i in chunk),
                                 dtype=np.int64, count=len(chunk))
                if (ai < 0).any():
                    sel = ai >= 0
                    chunk, ai = chunk[sel], ai[sel]
                    if not len(chunk):
                        continue
                sims = Mn_g[ai] @ Mn_g.T            # blocked matmul
                # NaN survives the prune AND the exact cut (Spark/DuckDB
                # order NaN above all doubles, so their `>= threshold`
                # keeps NaN pairs; numpy's would drop them)
                cand = (sims >= (threshold - slack)) | np.isnan(sims)
                cand &= ids_g[None, :] > chunk[:, None]   # a < b once
                ii, jj = np.nonzero(cand)
                if not len(ii):
                    continue
                gi = ai[ii]
                A, B = M_g[gi], M_g[jj]
                acc = np.zeros(len(ii))
                for d in range(M_g.shape[1]):       # exact fold
                    acc = acc + A[:, d] * B[:, d]
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = acc / (nrm_g[gi] * nrm_g[jj])
                keep = (cos >= threshold) | np.isnan(cos)
                out["vec_a"].extend(int(x) for x in ids_g[gi[keep]])
                out["vec_b"].extend(int(x) for x in ids_g[jj[keep]])
                # Decimal.quantize raises InvalidOperation on NaN —
                # pass NaN through unrounded (round(NaN) is NaN in SQL)
                out["cosine"].extend(
                    float("nan") if c != c else
                    float(decimal.Decimal(repr(c)).quantize(
                        q6, rounding=decimal.ROUND_HALF_UP))
                    for c in cos[keep])
            if out["vec_a"]:
                yield pd.DataFrame(out)

    return embeddings.select(id_col).mapInPandas(
        gen, "vec_a long, vec_b long, cosine double")


def hyperplanes(dim: int, n_planes: int, seed: str = "nrt") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: component (p, d) derives
    from sha256(seed|p|d) -> uniform in [-1, 1).  No RNG state, so any
    process regenerates the identical planes."""
    out = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.sha256(f"{seed}|{p}|{d}".encode()).digest()
            out[p, d] = int.from_bytes(h[:8], "big") / 2 ** 63 - 1.0
    return out


def _probe_dim(embeddings: DataFrame, vec_col: str,
               required: bool = True) -> "int | None":
    """Embedding dimensionality from the first NON-NULL vector — a
    one-row short-circuit scan (filter + limit-1 pushdown).  A bare
    ``first()[0]`` would TypeError on len(None) whenever the first
    returned row happens to carry a NULL embedding.  With
    ``required=False`` an empty/all-NULL table returns None and the
    caller picks its degenerate result (empty pair set, NULL buckets)
    instead of an error."""
    row = (embeddings.select(vec_col)
           .where(F.col(vec_col).isNotNull()).first())
    if row is None:
        if required:
            raise ValueError(
                f"cannot infer embedding dimension: table has no "
                f"non-NULL '{vec_col}' row (pass dim explicitly where "
                f"supported)")
        return None
    return len(row[0])


def _table_planes(dim: int, n_planes: int, n_tables: int, seed: str
                  ) -> np.ndarray:
    """The (n_tables * n_planes, dim) stack of OR-amplified plane sets;
    table t uses seed ``"{seed}-{t}"``."""
    return np.concatenate([hyperplanes(dim, n_planes, f"{seed}-{t}")
                           for t in range(n_tables)])


def _sign_buckets(X: np.ndarray, P: np.ndarray, n_planes: int
                  ) -> np.ndarray:
    """(n, T) int32 LSH buckets of the rows of ``X`` under the T plane
    sets stacked in ``P`` (T * n_planes, dim): ONE matmul for every
    table, bit p of a table's bucket set when the dot with its plane p
    is >= 0.  The test is written ``not < 0`` so a NaN dot sets the bit,
    as SQL's ``dot >= 0`` does (Spark and DuckDB order NaN above every
    double) — the oracles' CASE bucket expressions agree on
    NaN-containing vectors."""
    signs = ~((X @ P.T) < 0)
    B = signs.reshape(len(X), -1, n_planes)
    return (B * (1 << np.arange(n_planes))).sum(axis=2).astype(np.int32)


def _buckets_udf(P: np.ndarray, n_planes: int):
    """Arrow batch UDF: a vector's array<int> of buckets, one per plane
    set stacked in ``P`` (_sign_buckets); a NULL array for a NULL or
    ragged vector, which is un-bucketable."""
    @F.pandas_udf("array<int>")
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        X, valid = _stack_batch(vecs, P.shape[1])
        if not len(X):
            return pd.Series([], dtype=object)
        out = _sign_buckets(X, P, n_planes)
        return pd.Series([b if ok else None for b, ok in zip(out, valid)])

    return buckets_udf


def lsh_assign(embeddings: DataFrame, n_planes: int = 8, seed: str = "nrt",
               vec_col: str = "embedding", id_col: str = "vec_id",
               dim: "int | None" = None) -> DataFrame:
    """Assign each vector its LSH bucket (int in [0, 2^n_planes)) under
    the single plane set ``hyperplanes(dim, n_planes, seed)``: the
    Arrow batch UDF :func:`lsh_multi_assign` runs, over one table.
    NULL or ragged vectors get a NULL bucket, so a bucket-equality
    probe drops them (a bucket 0 would return phantom NULL-cosine rows
    to any probe hashing there).  ``dim`` skips the one-row probe scan
    (callers with a probe vector know it for free); an all-NULL table
    degrades to NULL buckets."""
    if dim is None:
        dim = _probe_dim(embeddings, vec_col, required=False)
    if dim is None:
        return embeddings.select(
            id_col, vec_col, F.lit(None).cast("int").alias("bucket"))
    buckets = _buckets_udf(hyperplanes(dim, n_planes, seed), n_planes)
    return embeddings.select(id_col, vec_col,
                             buckets(vec_col)[0].alias("bucket"))


#: hash-threshold pre-filter parameters for ivf_train's sample draw.
#: OVERSAMPLE=4 keeps the expected candidate pool 4x the sample size, so
#: under-delivery (< sample survivors) has negligible binomial odds at
#: sample >= 1000; K is the hash-bucket modulus the cut is expressed in.
IVF_SAMPLE_OVERSAMPLE = 4
IVF_SAMPLE_BUCKETS = 1 << 20
#: above this many source files the row count is footer-SAMPLED rather
#: than footer-exact (the sizing only needs an estimate; reading 10^6
#: footers on the driver would itself be the bottleneck)
IVF_EXACT_FOOTER_FILES = 256


#: analyzed-plan node names that cannot change the row count — a plan
#: made only of these over a file relation is sized by its footers
_ROW_PRESERVING_NODES = frozenset(
    {"Relation", "LogicalRelation", "Project", "SubqueryAlias", "View",
     "ResolvedHint", "Repartition", "RepartitionByExpression", "Sort"})


def _plan_preserves_source_rows(df: DataFrame) -> bool:
    """True iff every node of the analyzed logical plan is row-count
    preserving (scan / projection / alias), so the SOURCE file row
    total equals the DataFrame's row count.  A Filter (or join, limit,
    sample, ...) anywhere makes footer metadata an overestimate —
    ``df.inputFiles()`` still reports the source files for those plans,
    which is exactly why this check exists."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        # token = node name only: some Spark versions render
        # "Relation[cols] parquet" with no space before the bracket,
        # so split on "[" as well as " " (review finding: a rendering
        # change must not silently flip bare scans onto the probe path)
        node = (line.lstrip(" +-:*'!").split(" ", 1)[0]
                .split("[", 1)[0])
        if node and node not in _ROW_PRESERVING_NODES:
            return False
    return True


def _source_row_estimate(df: DataFrame) -> "tuple[int, bool] | None":
    """(rows, exact) for a file-backed DataFrame from parquet footer
    metadata only — no Spark job, no full-table count.  Up to
    ``IVF_EXACT_FOOTER_FILES`` files every footer is read (EXACT count,
    so sizing decisions are bit-stable vs the count()-based history and
    the duckdb twin); beyond that a 64-footer sample extrapolates.
    Returns None when the plan is not a bare file scan — filtered /
    joined / sampled inputs (where source footers would OVERestimate
    the row count and mis-size the hash cut) or non-parquet files —
    and callers fall back to a scan-free probe."""
    import pyarrow.parquet as pq

    if not _plan_preserves_source_rows(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None

    def rows_of(f: str) -> int:
        return pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows

    try:
        if len(files) <= IVF_EXACT_FOOTER_FILES:
            return sum(rows_of(f) for f in files), True
        probe = sorted(files)[:: max(1, len(files) // 64)][:64]
        mean = sum(rows_of(f) for f in probe) / len(probe)
        return int(mean * len(files)), False
    except Exception:
        return None


def ivf_train(embeddings: DataFrame, n_cells: int = 16, iters: int = 10,
              sample: int = 10000, vec_col: str = "embedding",
              id_col: str = "vec_id", seed: str = "nrt-ivf") -> np.ndarray:
    """Train an IVF coarse quantizer: k-means over a driver-side sample.

    Deterministic: the sample is the ``sample`` smallest ids of a
    deterministic hash-selected candidate pool, centroid init comes from
    sha256-seeded selection of sample rows, and Lloyd iterations are
    pure numpy — identical centroids on any cluster size or
    partitioning.  At 10^12 scale the sample is a tiny fixed-size
    sketch; training cost is O(sample), independent of table size.

    Sample draw: when the table holds more than
    ``IVF_SAMPLE_OVERSAMPLE * sample`` rows, rows are pre-filtered by a
    deterministic hash threshold (``pmod(xxhash64(id), K) < cut`` with
    the cut sized for an expected 4x oversample), and only the
    survivors feed the ordered ``limit``.  A bare ``orderBy(id)
    .limit(sample)`` is a TakeOrdered over the ENTIRE table — a full
    scan feeding per-partition heaps at 10^12 rows just to draw a
    fixed-size sketch; the hash filter drops ~all rows at the scan, so
    the heaps and the driver collect see only ~4x sample rows.  On
    tables at or below the oversample threshold (every test sf) the
    filter is a no-op and the sample — hence the centroids — is
    bit-identical to the unfiltered draw.  The numpy twin
    (:func:`nrt_spark.oracle.ivf_ann_oracle`) mirrors the filter via
    the pure-Python xxhash64, certifying both branches cross-engine.

    Cut sizing never runs a full-table ``count()``: on file-backed
    tables the row total comes from parquet FOOTER metadata only
    (exact up to ``IVF_EXACT_FOOTER_FILES`` files — every test scale —
    so sizing matches the duckdb twin's exact count bit-for-bit;
    footer-sampled beyond).  On non-file / post-filter inputs, where a
    count() would be a 10^12-row scan just to size a threshold, a
    scan-free incremental ``take`` probe decides small-vs-big and the
    big branch starts from the most aggressive cut.  Either way an
    under-delivering cut (estimate off, or probe-only sizing) escalates
    geometrically — cut x4, redraw — until ``sample`` rows survive or
    the filter degenerates to a no-op; the escalation is a pure
    function of the data, so the draw stays deterministic and the twin
    mirrors it exactly.

    Returns:
        (n_cells, dim) float64 centroid matrix.
    """
    cand = embeddings.select(id_col, vec_col)
    K = IVF_SAMPLE_BUCKETS
    thresh = IVF_SAMPLE_OVERSAMPLE * sample
    est = _source_row_estimate(embeddings)
    if est is not None:
        big = est[0] > thresh
        cut = -(-K * thresh // est[0]) if big else K          # ceil
        if big and not est[1]:
            # footer-SAMPLED estimate (>IVF_EXACT_FOOTER_FILES files):
            # the starting cut can differ from an exact-count twin's,
            # and a different cut with >= `sample` survivors selects a
            # different id set — cross-engine certification then needs
            # the twin to start from this same estimate
            log.warning(
                "ivf_train: row total %d is a footer-SAMPLED estimate "
                "(>IVF_EXACT_FOOTER_FILES source files); cut sizing is "
                "inexact — for bit-exact cross-engine certification "
                "pass row_estimate=%d to ivf_ann_oracle so both sides "
                "derive the same cut", est[0], est[0])
    else:
        # scan-free size probe: take() runs incrementally (1 partition,
        # then 4x more, ...) so on a huge table it touches a handful of
        # partitions; on a small one it is the whole (cheap) scan
        big = len(embeddings.select(id_col).take(thresh + 1)) > thresh
        cut = 1                       # most aggressive; escalation sizes it
        if big:
            log.warning(
                "ivf_train: input is not a bare parquet scan, so no "
                "row estimate exists; the cut starts at 1 and escalates "
                "geometrically — this can select a different sample "
                "than ivf_ann_oracle, which sizes its cut from a row "
                "count (its row_estimate parameter cannot express "
                "'start at 1'). Bit-exact cross-engine certification "
                "requires the footer-exact path (a bare parquet scan "
                "of <= IVF_EXACT_FOOTER_FILES files)")

    def draw(c: int) -> list:
        src = cand
        if big and c < K:
            src = cand.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(K)) < F.lit(int(c)))
        # NULL embeddings are filtered BEFORE the ordered limit so they
        # never count toward the sample quota (a NULL-heavy table would
        # otherwise silently train on far fewer rows than `sample`);
        # under-delivery from the filter escalates the cut exactly like
        # hash under-delivery.  Mirrored by ivf_ann_oracle's
        # IS NOT NULL fetch so both engines train on identical rows.
        return (src.where(F.col(vec_col).isNotNull())
                .orderBy(id_col).limit(sample)
                .toPandas()[vec_col].tolist())

    rows = draw(cut)
    while big and len(rows) < sample and cut < K:
        cut = min(cut * 4, K)         # under-delivery: widen and redraw
        rows = draw(cut)
    if len(rows) < n_cells:
        raise ValueError(
            f"ivf_train: only {len(rows)} non-NULL embeddings available "
            f"for n_cells={n_cells} — the (n_cells, dim) centroid "
            f"contract cannot be met")
    X = np.asarray([np.asarray(r, dtype=np.float64) for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    h = int.from_bytes(hashlib.sha256(seed.encode()).digest()[:8], "big")
    order = np.argsort((np.arange(len(X)) * 2654435761 + h) % (2 ** 32))
    C = X[order[:n_cells]].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)       # cosine on unit vectors
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                mu = members.mean(axis=0)
                C[c] = mu / (np.linalg.norm(mu) or 1.0)
    return C


def ivf_assign(embeddings: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding", id_col: str = "vec_id",
               max_inline_cells: int = 32) -> DataFrame:
    """Assign each vector its IVF cell = argmax cosine over centroids
    (at scale the cell is a partition key).  One Arrow batch UDF; the
    cell count picks how it computes norms and similarities:

    - ``n_cells <= max_inline_cells``: the sequential-fold kernels
      (_seqfold_dots / _seqfold_sqnorms) — every sim bit-identical to
      the SQL oracle's per-centroid sequential list fold (the sf100
      probe measured the retired HOF chain at 16 cells x 2M vectors
      ~30 s; this path ~5 s).
    - larger cell counts: ONE BLAS matmul per batch.  At n_cells=256
      the m-fold dimension loop loses to dgemm, and the fold-order
      guarantee is unnecessary there (the IVF oracle twin recomputes
      assignment with the same matmul).

    Ties (exactly equal similarities) resolve to the FIRST maximal cell
    either way (``np.argmax`` takes the first hit).  Zero-norm, NULL
    and ragged vectors get a NULL cell.
    """
    C = np.asarray(centroids, dtype=np.float64)
    seqfold = len(C) <= max_inline_cells

    @F.pandas_udf("int")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        X, valid = _stack_batch(vecs, C.shape[1])
        if not len(X):
            return pd.Series([], dtype="Int32")
        if seqfold:
            norms = np.sqrt(_seqfold_sqnorms(X))
            sims = _seqfold_dots(X, C)
        else:
            norms = np.sqrt((X * X).sum(axis=1))
            sims = X @ C.T                   # (n, n_cells), one BLAS call
        with np.errstate(invalid="ignore", divide="ignore"):
            sims /= norms[:, None]
        out = pd.array(np.argmax(sims, axis=1).astype(np.int32),
                       dtype="Int32")
        # zero-norm, NULL and ragged vectors: NULL cell — argmax over
        # their NaN/zero-filled row would file them in cell 0
        out[(norms == 0) | ~valid] = pd.NA
        return pd.Series(out)

    return embeddings.select(id_col, vec_col,
                             cell_udf(vec_col).alias("cell"))


def ivf_topk(embeddings: DataFrame, probe: list[float],
             centroids: np.ndarray, k: int = 10, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id"
             ) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the ``nprobe``
    cells nearest to the probe (the IVF scale path: a partition-pruned
    scan over cell partitions instead of the full table)."""
    assigned = ivf_assign(embeddings, centroids, vec_col, id_col)
    pv = np.asarray(probe, dtype=np.float64)
    pv = pv / np.linalg.norm(pv)
    probe_cells = np.argsort(-(centroids @ pv))[:nprobe].tolist()
    return cosine_topk(
        assigned.filter(F.col("cell").isin([int(c) for c in probe_cells])),
        probe, k, vec_col, id_col)


def lsh_multi_assign(embeddings: DataFrame, n_planes: int = 4,
                     n_tables: int = 16, seed: str = "nrt",
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     dim: "int | None" = None) -> DataFrame:
    """Assign each vector one bucket per hash table (OR-amplified LSH).

    ``n_tables`` independent plane sets (seed-derived, table t uses seed
    ``"{seed}-{t}"``) raise recall for pair mining: a pair is a candidate
    if it collides in ANY table.  All T*b plane dots are ONE numpy
    matmul per Arrow batch inside a pandas UDF — inlining 64 plane
    literals as Catalyst higher-order-function dots measured ~10x
    slower (huge generated expression tree, per-row lambda evaluation).
    Output: (id, table_idx, bucket).  ``dim`` skips the one-row probe
    action — pass it when ``embeddings`` is itself an expensive plan
    (e.g. an aggregate) whose first() would run the whole job eagerly.
    """
    if dim is None:
        dim = _probe_dim(embeddings, vec_col, required=False)
    if dim is None:
        # empty/all-NULL table: nothing is bucketable, so the
        # assignment relation is empty (same semantics as buckets_udf
        # emitting a NULL array per NULL vector)
        return (embeddings
                .select(id_col, F.lit(0).cast("int").alias("table_idx"),
                        F.lit(0).cast("int").alias("bucket"))
                .where(F.lit(False)))
    buckets = _buckets_udf(_table_planes(dim, n_planes, n_tables, seed),
                           n_planes)
    # NULL/ragged vectors: NULL bucket array -> posexplode emits no
    # candidate rows for them (un-bucketable, never a pair member)
    return embeddings.select(
        id_col, F.posexplode(buckets(vec_col)).alias("table_idx", "bucket"))


def _lsh_mine_pairs(embeddings: DataFrame, threshold: float,
                    n_planes: int, n_tables: int, seed: str,
                    vec_col: str, id_col: str,
                    dim: "int | None" = None) -> DataFrame:
    """The core LSH pair miner over a table of (assumed distinct)
    vectors: bucket self-join candidates + exact cosine verify."""
    assigned = lsh_multi_assign(embeddings, n_planes, n_tables, seed,
                                vec_col, id_col, dim=dim)
    a = assigned.select(F.col(id_col).alias("id_a"), "table_idx", "bucket")
    b = assigned.select(F.col(id_col).alias("id_b"), "table_idx", "bucket")
    cand = (a.join(b, ["table_idx", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    cast_vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ea = embeddings.select(F.col(id_col).alias("id_a"), cast_vec.alias("va"))
    eb = embeddings.select(F.col(id_col).alias("id_b"), cast_vec.alias("vb"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (cand.join(ea, "id_a").join(eb, "id_b")
            .withColumn("cos_raw", cos)
            .filter(F.col("cos_raw") >= threshold)
            .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine")))


def lsh_neardup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                      n_planes: int = 4, n_tables: int = 16,
                      seed: str = "nrt", vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      collapse_duplicates: bool = True) -> DataFrame:
    """Near-duplicate pair mining without a cross join: the scale-safe
    twin of the brute-force all-pairs threshold join.

    Plan shape: (1) one scan computing ``n_tables`` bucket ids per
    vector, (2) a self-join on (table_idx, bucket) — the shuffle key is
    the bucket hash, never an inequality — (3) ``distinct`` candidate
    ids, (4) two id-joins to fetch the vectors, (5) exact cosine filter.
    Expected recall vs brute force is 1-(1-p^b)^T with
    p = 1 - theta/pi; defaults (b=4, T=16) give ~0.94 at cosine 0.4.
    Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.

    ``collapse_duplicates`` (default on) guards the quadratic failure
    mode the sf1 dry pass measured: identical vectors land in identical
    buckets, so k copies of a vector multiply the bucket self-join's
    candidate pairs by k^2 (10x exact-duplicate replicas -> 127.7M
    candidates vs ~1.3M distinct).  The miner therefore groups BY THE
    VECTOR VALUE first (exact equality — no hash, so distinct vectors
    can never merge), mines pairs over one representative per group,
    and expands the surviving pairs back through the duplicate groups.
    Identical vectors share plane signs and cosines exactly, so the
    output pair set is IDENTICAL to the uncollapsed miner's (pinned by
    the cross-engine oracle, whose SQL still computes over the full
    table); only the candidate volume changes.  Intra-group pairs get
    the engine-computed self-cosine (s/(sqrt(s)*sqrt(s)), which may
    differ from 1.0 in the last ulp — same value either path).  NOTE on
    NaN-containing vectors: Spark SQL normalizes NaN for aggregation
    keys, so identical NaN-containing vectors DO collapse into one
    group; their cosines are NaN on both paths, and because Spark's
    comparison semantics order NaN ABOVE every double, ``cos_raw >=
    threshold`` is TRUE — NaN pairs are EMITTED identically by the
    collapsed and uncollapsed miners (equivalent output either way;
    candidate-volume telemetry counts them once per group here vs once
    per copy uncollapsed).
    """
    if not collapse_duplicates:
        return _lsh_mine_pairs(embeddings, threshold, n_planes, n_tables,
                               seed, vec_col, id_col)
    # probe the dimension on the BASE table (one-row short-circuit
    # scan) — probing on the reps aggregate would eagerly run the
    # whole group-by shuffle at plan-build time
    dim = _probe_dim(embeddings, vec_col, required=False)
    if dim is None:
        # empty/all-NULL table: NULL vectors are un-bucketable and
        # pair with NULL cosine — the pair set is empty, matching
        # cosine_all_pairs' degenerate result
        return (embeddings.select(F.col(id_col).alias("id_a"),
                                  F.col(id_col).alias("id_b"),
                                  F.lit(0.0).alias("cosine"))
                .where(F.lit(False)))
    # checkpointed: the group-by feeds FOUR subtrees of the returned
    # plan (reps, ga, gb, intra) — without materialization Spark may
    # re-run the shuffle up to four times per action unless AQE
    # exchange reuse happens to kick in.  Non-eager localCheckpoint
    # (not persist(): CacheManager entries outlive the returned plan)
    # materializes on the first action and is reclaimed by the
    # ContextCleaner once the result DataFrame is GC'd — the same
    # call-scoped pattern as the jaccard miner's shingle checkpoint.
    groups = (embeddings.groupBy(vec_col)
              .agg(F.min(id_col).alias("rep"),
                   F.collect_list(id_col).alias("members"),
                   F.count("*").alias("m"))
              .localCheckpoint(eager=False))
    reps = groups.select(F.col("rep").alias(id_col), vec_col)
    rep_pairs = _lsh_mine_pairs(reps, threshold, n_planes, n_tables,
                                seed, vec_col, id_col, dim=dim)
    ga = groups.select(F.col("rep").alias("id_a"),
                       F.col("members").alias("ma"))
    gb = groups.select(F.col("rep").alias("id_b"),
                       F.col("members").alias("mb"))
    cross = (rep_pairs.join(ga, "id_a").join(gb, "id_b")
             .select("cosine", F.explode("ma").alias("x"), "mb")
             .select("cosine", "x", F.explode("mb").alias("y"))
             .select(F.least("x", "y").alias("id_a"),
                     F.greatest("x", "y").alias("id_b"), "cosine"))
    cast_vec = F.transform(F.col(vec_col), lambda z: z.cast("double"))
    self_cos = cosine_similarity(cast_vec, cast_vec)
    intra = (groups.filter(F.col("m") >= 2)
             .withColumn("cos_raw", self_cos)
             .filter(F.col("cos_raw") >= threshold)
             .select(F.round("cos_raw", 6).alias("cosine"),
                     F.explode("members").alias("x"), "members")
             .select("cosine", "x", F.explode("members").alias("y"))
             .filter(F.col("x") < F.col("y"))
             .select(F.col("x").alias("id_a"), F.col("y").alias("id_b"),
                     "cosine"))
    return cross.select("id_a", "id_b", "cosine").unionAll(intra)


def lsh_probe_buckets(probe: list[float], n_planes: int, n_tables: int,
                      seed: str = "nrt") -> list[int]:
    """The probe's bucket id in each of ``n_tables`` plane sets (table t
    uses seed ``"{seed}-{t}"``) — pure numpy, reproducible anywhere."""
    P = _table_planes(len(probe), n_planes, n_tables, seed)
    pv = np.asarray(probe, dtype=np.float64)[None, :]
    return _sign_buckets(pv, P, n_planes)[0].tolist()


def lsh_topk(embeddings: DataFrame, probe: list[float], k: int = 10,
             n_planes: int = 8, seed: str = "nrt",
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_tables: int = 1) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the probe's LSH
    bucket(s).  With ``n_tables`` > 1 the candidate set is OR-amplified
    across independent plane sets — recall 1-(1-p^b)^T instead of p^b
    (a single 6-bit bucket recalls only ~0.2 of the true top-10 on
    uniform vectors; 8 tables lift it to ~0.6-0.8 while still scanning
    ~T/2^b of the table).  At scale each table's bucket is a partition
    key, so this stays a pruned scan — T lookups instead of 1."""
    if n_tables <= 1:
        # the probe vector fixes the dimension for free — no one-row
        # probe scan job, and an all-NULL table degrades to empty top-k
        assigned = lsh_assign(embeddings, n_planes, seed, vec_col, id_col,
                              dim=len(probe))
        pv = np.asarray(probe, dtype=np.float64)[None, :]
        planes = hyperplanes(len(probe), n_planes, seed)
        probe_bucket = int(_sign_buckets(pv, planes, n_planes)[0, 0])
        return cosine_topk(
            assigned.filter(F.col("bucket") == probe_bucket), probe, k,
            vec_col, id_col)
    assigned = lsh_multi_assign(embeddings, n_planes, n_tables, seed,
                                vec_col, id_col, dim=len(probe))
    pbs = lsh_probe_buckets(probe, n_planes, n_tables, seed)
    # candidate: collides with the probe in ANY table; bucket-per-table
    # literal lookup keeps the filter a single array index comparison
    pb_arr = F.array(*[F.lit(int(b)) for b in pbs])
    cand = (assigned
            .filter(F.col("bucket")
                    == F.element_at(pb_arr, F.col("table_idx") + 1))
            .select(id_col).distinct())
    pruned = embeddings.join(cand, id_col, "left_semi")
    return cosine_topk(pruned, probe, k, vec_col, id_col)
