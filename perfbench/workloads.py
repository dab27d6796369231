"""The benchmark's workloads, driven only through public ``nrt_spark``
functions.

Each workload has the same shape:

- ``setup()`` writes the seeded inputs (pure numpy + pyarrow, timed as
  ``gen``), then ``prepare()`` does the Spark-side preparation the
  program expects to find already done and the discarded warm-up
  iterations (timed as ``prep``);
- ``op()`` is one timed iteration and returns its observation count;
- ``summary()`` gives the workload's own figures, read after the window;
- ``check()`` verifies the outputs against an independent computation;
- ``replay()`` (traced run only) times single layers in the driver.

``check()`` and ``replay()`` return ``(checks made, failures)``.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs

N_OBS = 130
#: series per workload.  One iteration is then 10-20 s on a 4-core
#: host, and a whole run about 50 s: larger inputs steady the figures
#: little on a shared host and cost run time a 22-run comparison of two
#: commits cannot spare.
ARCHIVE_SERIES = 6_000
BACKFILL_SERIES = 16_000
STREAM_SERIES = 32_000
#: the discarded warm-up iterations run on a table this many times
#: smaller: the first-use costs they pay do not grow with the input
WARM_FRACTION = 4
HISTORY_END = "2016-05-10"
NUM_BUCKETS = 16
MONITORS = {"ewma": {}, "cusum": {"trend": False, "method": "OLS"},
            "mosum": {"trend": False, "method": "OLS"}}
LAYOUTS = ("cogroup", "bucketed")


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def _median_time(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Workload:
    """Common state: session, work directory, seed, tracer."""

    #: set-up repetitions of the input generation (median is reported)
    gen_reps = 3

    def __init__(self, spark, work: Path, seed: int, scale: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.replays: dict = {}

    def size(self, full: int) -> int:
        return max(64, int(full * self.scale))

    def setup(self) -> tuple[float, float]:
        """Write the inputs (median of ``gen_reps`` writes), then
        ``prepare``; returns both walls."""
        gen_s = _median_time(self.generate, self.gen_reps)
        t0 = time.perf_counter()
        self.prepare()
        return gen_s, time.perf_counter() - t0

    def prepare(self) -> None:
        """Spark-side preparation plus discarded warm-up iterations that
        pay the session's first-use costs (code generation, JIT, Python
        worker start-up) on this workload's own plans."""

    def replay(self) -> tuple[int, list]:
        return 0, []

    def summary(self) -> dict:
        return {}

    def stop(self) -> None:
        pass


# ------------------------------------------------------------------ archive
class Archive(Workload):
    """Archive path of the production job: day tier, cascaded week and
    month tiers, fastpath Gorilla blocks, a small late-data upsert; then
    the read path: decode every block, LTTB-downsample every series."""

    def generate(self) -> None:
        self.n_series = self.size(ARCHIVE_SERIES)
        self.n_obs_in, self.n_delta = self._write(self.work, self.n_series)
        self._write(self.work / "warm", self.n_series // WARM_FRACTION)
        self.iters: list = []

    def _write(self, root: Path, n_series: int) -> tuple[int, int]:
        """A token table and a late-data delta landing in the last two
        months of its grid; returns both row counts."""
        n_obs = inputs.write_tokens(root / "tokens", self.seed, n_series,
                                    N_OBS)
        n_late = inputs.late_delta(root / "delta", self.seed, n_series,
                                   N_OBS, n_docs=max(8, n_series // 100),
                                   n_points=3, recent=12)
        return n_obs, n_late

    def prepare(self) -> None:
        self._cycle(self.work / "warm", "warmup")      # discarded

    def op(self, i: int) -> int:
        self.iters.append(self._cycle(self.work, f"archive-{i}"))
        return self.n_obs_in

    def _cycle(self, src: Path, out: str) -> dict:
        """Write phase (tiers, blocks, upsert), then read phase (decode,
        LTTB), of the inputs under ``src``, into directory ``out``."""
        from nrt_spark.compress import decompress_tier
        from nrt_spark.fastpath import rollup_compress_tokens
        from nrt_spark.rollup import (lttb_downsample_tokens, rollup_cascade,
                                      rollup_raw, upsert_tier, write_tier)
        from nrt_spark.tokens import decode_long

        spark, span = self.spark, self.tr.span
        root = str(self.work / out)
        blocks = f"{root}/blocks"
        tokens = spark.read.parquet(str(src / "tokens"))
        delta = spark.read.parquet(str(src / "delta"))
        t0 = time.perf_counter()
        with span("rollup.tier_day"):
            write_tier(rollup_raw(decode_long(tokens), "day",
                                  with_last_ts=True), root, "day")
        with span("rollup.tier_cascade"):
            day = spark.read.parquet(f"{root}/tier=day").drop("period")
            for tier in ("week", "month"):
                write_tier(rollup_cascade(day, tier), root, tier)
        with span("fastpath.blocks_write"):
            rollup_compress_tokens(tokens).write.partitionBy("tier") \
                .parquet(blocks)
        with span("rollup.upsert"):
            upsert_tier(spark, root, "day", delta)
        t1 = time.perf_counter()
        with span("compress.decompress"):
            points = decompress_tier(spark.read.parquet(blocks)).count()
        with span("rollup.lttb"):
            lttb_downsample_tokens(tokens).count()
        t2 = time.perf_counter()
        return {"root": root, "write_s": t1 - t0, "read_s": t2 - t1,
                "points": points}

    def _blocks(self):
        return self.spark.read.parquet(self.iters[-1]["root"] + "/blocks")

    def summary(self) -> dict:
        row = self._blocks().agg(F.sum("n_points").alias("p"),
                                 F.sum("n_bytes").alias("b")).first()
        write = sum(it["write_s"] for it in self.iters)
        read = sum(it["read_s"] for it in self.iters)
        return {
            "write_obs_per_s": (self.n_obs_in * len(self.iters) / write,
                                "obs/s"),
            "read_points_per_s": (sum(it["points"] for it in self.iters)
                                  / read, "points/s"),
            "bytes_per_point": (row["b"] / row["p"], "B/pt"),
        }

    def check(self) -> tuple[int, list]:
        from nrt_spark.compress import decompress_tier

        spark, it = self.spark, self.iters[-1]
        fails = []
        delta = spark.read.parquet(str(self.work / "delta"))
        late_docs = {r[0] for r in delta.select("doc_id").distinct().collect()}
        rng = np.random.default_rng([self.seed, 17])
        sample = [d for d in rng.choice(inputs.doc_ids(self.seed,
                                                       self.n_series),
                                        size=min(300, self.n_series),
                                        replace=False)
                  if d not in late_docs]
        day = (spark.read.parquet(it["root"] + "/tier=day")
               .where(F.col("doc_id").isin(sample))
               .select("doc_id", "bucket_start", "mean").toPandas()
               .sort_values(["doc_id", "bucket_start"], ignore_index=True))
        dec = (decompress_tier(self._blocks().where(
                   (F.col("tier") == "day") & F.col("doc_id").isin(sample)))
               .toPandas()
               .sort_values(["doc_id", "bucket_start"], ignore_index=True))
        if len(day) != len(dec) or len(day) != len(sample) * N_OBS:
            fails.append(f"archive: {len(dec)} decoded day points vs "
                         f"{len(day)} day-tier rows for {len(sample)} docs")
        elif not (day["doc_id"].equals(dec["doc_id"])
                  and _same_bits(day["mean"], dec["value"])):
            fails.append("archive: decoded day blocks differ from the day "
                         "tier's mean")
        n_day = spark.read.parquet(it["root"] + "/tier=day").count()
        n_pts = self._blocks().where(F.col("tier") == "day") \
            .agg(F.sum("n_points")).first()[0]
        if n_day != n_pts or n_day != self.n_series * N_OBS:
            fails.append(f"archive: day tier has {n_day} rows, day blocks "
                         f"{n_pts} points")
        # every late row is folded into an existing, previously all-gap
        # day bucket
        folded = (spark.read.parquet(it["root"] + "/tier=day")
                  .join(delta.select(
                      "doc_id", F.date_trunc("day", "ts")
                      .alias("bucket_start")), ["doc_id", "bucket_start"])
                  .agg(F.sum("n"), F.count("*")).first())
        if folded[0] != self.n_delta or folded[1] != self.n_delta:
            fails.append(f"archive: upsert folded {folded[0]} of "
                         f"{self.n_delta} late rows")
        return 3, fails

    def replay(self) -> tuple[int, list]:
        """Gorilla codec alone in the driver: decode every block of the
        last iteration, re-encode the decoded streams, in chunks of
        the engine's Arrow batch size; the round trip must reproduce
        the written bytes."""
        from nrt_spark.gorilla import (decode_float_streams,
                                       decode_int_streams,
                                       encode_float_streams,
                                       encode_int_streams)

        pdf = self._blocks().select("ts_block", "val_block").toPandas()
        ts_b = [bytes(b) for b in pdf["ts_block"]]
        val_b = [bytes(b) for b in pdf["val_block"]]
        chunk = int(self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        dec_s = enc_s = 0.0
        same = True
        for a in range(0, len(ts_b), chunk):
            t0 = time.perf_counter()
            ts = decode_int_streams(ts_b[a:a + chunk])
            vals = decode_float_streams(val_b[a:a + chunk])
            t1 = time.perf_counter()
            ts_e = encode_int_streams(ts)
            val_e = encode_float_streams(vals)
            t2 = time.perf_counter()
            dec_s += t1 - t0
            enc_s += t2 - t1
            same &= ts_e == ts_b[a:a + chunk] and val_e == val_b[a:a + chunk]
        # the iteration encodes every block once and decodes it once
        self.replays.update({"gorilla.decode_s": dec_s,
                             "gorilla.encode_s": enc_s,
                             "fastpath.bytes_written": float(sum(
                                 map(len, ts_b)) + sum(map(len, val_b))),
                             "kernels_s": dec_s + enc_s})
        return 1, [] if same else ["archive: Gorilla re-encode of decoded "
                                   "blocks differs from the written bytes"]


def _same_bits(a: pd.Series, b: pd.Series) -> bool:
    """Bitwise float equality with NULL == NaN."""
    x = a.to_numpy(dtype=np.float64, na_value=np.nan)
    y = b.to_numpy(dtype=np.float64, na_value=np.nan)
    both_nan = np.isnan(x) & np.isnan(y)
    return bool(np.all(both_nan | (x.view(np.int64) == y.view(np.int64))))


# ----------------------------------------------------------------- backfill
class Backfill(Workload):
    """fit -> monitor -> save_state for ewma, cusum and mosum on both
    layouts the production job offers: the default cogroup path and the
    bucketed (storage-partitioned) path.  One iteration is one round of
    all six passes, so every timed window holds the same pass mix.

    Both layouts save the fit snapshot before monitoring from it, so
    fit and monitor are timed apart and do the same logical work."""

    def generate(self) -> None:
        self.n_series = self.size(BACKFILL_SERIES)
        self.n_obs_in = inputs.write_tokens(self.work / "tokens", self.seed,
                                            self.n_series, N_OBS)
        inputs.write_tokens(self.work / "warm" / "tokens", self.seed,
                            self.n_series // WARM_FRACTION, N_OBS)
        self.rounds: list = []

    def prepare(self) -> None:
        from nrt_spark.engine import write_tokens_bucketed

        for src in (self.work / "warm", self.work):
            write_tokens_bucketed(
                self.spark.read.parquet(str(src / "tokens")),
                str(src / "tokens_bucketed"), NUM_BUCKETS)
            if src != self.work:
                # discarded: the three monitors share every Spark plan
                # shape, so one pass per layout warms the whole round
                for layout in LAYOUTS:
                    self._pass(src, src / "out", "cusum", layout)
        self.bucketed = str(self.work / "tokens_bucketed")

    def engine(self, monitor: str):
        from nrt_spark.engine import NrtEngine

        return NrtEngine(self.spark, monitor, num_buckets=NUM_BUCKETS,
                         **MONITORS[monitor])

    def _pass(self, src: Path, root: Path, monitor: str, layout: str) -> str:
        """fit -> save the fit snapshot -> monitor -> save the state, over
        the inputs under ``src``."""
        span, eng = self.tr.span, self.engine(monitor)
        fit = str(root / f"{layout}-{monitor}-fit")
        out = str(root / f"{layout}-{monitor}")
        if layout == "cogroup":
            tokens = self.spark.read.parquet(str(src / "tokens"))
            with span("engine.fit"):
                eng.save_state(eng.fit(tokens, history_end=HISTORY_END), fit)
            with span("engine.monitor"):
                eng.save_state(eng.monitor(eng.load_state(fit), tokens), out)
        else:
            bucketed = str(src / "tokens_bucketed")
            with span("engine.fit_bucketed"):
                eng.save_state(eng.fit_bucketed(bucketed,
                                                history_end=HISTORY_END), fit)
            with span("engine.monitor_bucketed"):
                eng.save_state(eng.monitor_bucketed(fit, bucketed), out)
        return out

    def op(self, i: int) -> int:
        root = self.work / f"backfill-{i}"
        outs = {(layout, m): self._pass(self.work, root, m, layout)
                for m in MONITORS for layout in LAYOUTS}
        self.rounds.append(outs)
        return self.n_obs_in * len(outs)

    def _state(self, path: str) -> pd.DataFrame:
        return (self.spark.read.parquet(path).toPandas()
                .sort_values("doc_id", ignore_index=True))

    def check(self) -> tuple[int, list]:
        fails = []
        outs = self.rounds[-1]
        oracle = self._oracle()
        for m in MONITORS:
            c = self._state(outs[("cogroup", m)])
            b = self._state(outs[("bucketed", m)])
            if len(c) != self.n_series or not _frames_identical(c, b):
                fails.append(f"backfill/{m}: cogroup and bucketed states "
                             "differ")
            o = oracle[m]
            if not (c["doc_id"].equals(o["doc_id"])
                    and np.array_equal(c["mask"], o["mask"])
                    and np.array_equal(c["detection_date"],
                                       o["detection_date"])):
                fails.append(f"backfill/{m}: mask/detection_date differ "
                             "from the single-process kernels")
        return 2 * len(MONITORS), fails

    def _oracle(self) -> dict:
        """The same kernels in this process, bucket by bucket with the
        engine's bucket widths and series order.  Timed per layer for
        the traced run's replay metrics."""
        from nrt_spark.kernels.monitors import (fit_state, resolve_params,
                                                run_monitor)
        from nrt_spark.state import pdf_to_state, state_to_pdf
        from nrt_spark.tokens import grid_days, tokens_to_matrix

        import pyarrow.parquet as pq

        he = int(np.datetime64(HISTORY_END, "D").astype(np.int64))
        buckets = []
        for b in range(NUM_BUCKETS):
            part = Path(self.bucketed) / f"bucket={b}"
            if part.exists():
                t = pq.read_table(part, columns=["doc_id", "tokens"]) \
                    .to_pandas().sort_values("doc_id", ignore_index=True)
                buckets.append((b, t))
        clock = dict.fromkeys(("tokens.to_matrix_s", "kernels.fit_state_s",
                               "kernels.run_monitor_s", "state.roundtrip_s"),
                              0.0)
        out = {}
        for m in MONITORS:
            params = resolve_params(m, **MONITORS[m])
            frames = []
            for b, t in buckets:
                t0 = time.perf_counter()
                y = tokens_to_matrix(list(t["tokens"]))
                t1 = time.perf_counter()
                days = grid_days(y.shape[0])
                hist = days <= he
                state = fit_state(y[hist], days[hist], params)
                t2 = time.perf_counter()
                pdf = state_to_pdf(state, t["doc_id"].to_numpy(), b,
                                   np.full(len(t), int(days[hist][-1])))
                state = pdf_to_state(pdf)
                t3 = time.perf_counter()
                run_monitor(state, y[~hist], days[~hist], params)
                t4 = time.perf_counter()
                clock["tokens.to_matrix_s"] += t1 - t0
                clock["kernels.fit_state_s"] += t2 - t1
                clock["state.roundtrip_s"] += t3 - t2
                clock["kernels.run_monitor_s"] += t4 - t3
                frames.append(pd.DataFrame({
                    "doc_id": t["doc_id"], "mask": state["mask"],
                    "detection_date": state["detection_date"]}))
            out[m] = pd.concat(frames).sort_values("doc_id",
                                                   ignore_index=True)
        # per iteration: a round runs every monitor's kernels once per
        # layout
        self.replays = {k: v * len(LAYOUTS) for k, v in clock.items()}
        self.replays["kernels_s"] = (self.replays["kernels.fit_state_s"]
                                     + self.replays["kernels.run_monitor_s"])
        return out

    def replay(self) -> tuple[int, list]:
        """``save_state`` alone: rewrite an already materialized state
        table of the same size (the engine passes fuse it with the
        compute that feeds it).  The kernel replays ran in ``check``."""
        eng = self.engine("cusum")
        src = self.rounds[-1][("bucketed", "cusum")]
        t0 = time.perf_counter()
        eng.save_state(eng.load_state(src), str(self.work / "save-replay"))
        self.replays["engine.save_state_s"] = time.perf_counter() - t0
        return 0, []


def _frames_identical(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype == object:
            for u, v in zip(x, y):
                if isinstance(u, np.ndarray) or isinstance(v, np.ndarray):
                    if not np.array_equal(np.asarray(u, dtype=np.float64)
                                          .view(np.int64),
                                          np.asarray(v, dtype=np.float64)
                                          .view(np.int64)):
                        return False
                elif u != v:
                    return False
        elif x.dtype.kind == "f":
            if not np.array_equal(x.view(np.int64), y.view(np.int64)):
                return False
        elif not np.array_equal(x, y):
            return False
    return True


# --------------------------------------------------------------- nrt_stream
class NrtStream(Workload):
    """Near-real-time monitoring: a cusum fit snapshot is made in set-up,
    then ``monitor_stream`` reads a parquet file source.  One iteration
    drops one acquisition file (all series for one date, cloud gaps
    absent, a few percent late re-deliveries) and waits for it to be
    processed: a closed loop with one client."""

    late_frac = 0.03
    warmup_batches = 3

    def generate(self) -> None:
        self.n_series = self.size(STREAM_SERIES)
        self.n_hist = 100
        # far more files than a run's window can consume
        self.n_acq = 60
        docs, hist, frames = inputs.acquisitions(
            self.seed, self.n_series, self.n_hist, self.n_acq,
            self.late_frac)
        self.frames = frames
        self.hist_path = self.work / "history"
        self.hist_path.mkdir(parents=True, exist_ok=True)
        import pyarrow.parquet as pq

        pq.write_table(inputs.token_table(self.seed, docs, hist),
                       self.hist_path / "part-000.parquet")
        self.staging = self.work / "staging"
        self.staging.mkdir(parents=True, exist_ok=True)
        for j, fr in enumerate(frames):
            inputs.write_frame(self.staging / f"acq-{j:04d}.parquet", fr)
        self.delivered = 0

    def prepare(self) -> None:
        from nrt_spark.engine import NrtEngine, write_tokens_bucketed
        from nrt_spark.streaming import OBS_SCHEMA, monitor_stream

        spark = self.spark
        bucketed = str(self.work / "history_bucketed")
        write_tokens_bucketed(spark.read.parquet(str(self.hist_path)),
                              bucketed, NUM_BUCKETS)
        self.eng = NrtEngine(spark, "cusum", num_buckets=NUM_BUCKETS,
                             **MONITORS["cusum"])
        self.fit_path = str(self.work / "fit")
        self.eng.save_state(self.eng.fit_bucketed(bucketed), self.fit_path)
        self.source = self.work / "source"
        self.source.mkdir()
        self.report = str(self.work / "report")
        report = self.report

        def sink(df, batch_id):
            df.withColumn("batch_id", F.lit(batch_id)) \
                .write.mode("append").parquet(report)

        obs = spark.readStream.schema(OBS_SCHEMA).parquet(str(self.source))
        self.query = (monitor_stream(obs, self.fit_path, self.eng.params,
                                     NUM_BUCKETS)
                      .writeStream.foreachBatch(sink)
                      .option("checkpointLocation",
                              str(self.work / "checkpoint"))
                      .start())
        for i in range(self.warmup_batches):
            self.op(i)

    def op(self, i: int) -> int:
        if self.delivered == len(self.frames):
            raise RuntimeError("nrt_stream: ran out of acquisition files; "
                               "raise n_acq")
        name = f"acq-{self.delivered:04d}.parquet"
        os.rename(self.staging / name, self.source / name)
        self.query.processAllAvailable()
        rows = len(self.frames[self.delivered][0])
        self.delivered += 1
        return rows

    def stop(self) -> None:
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query = None

    def summary(self) -> dict:
        """Medians over the timed batches of ``StreamingQueryProgress``;
        read before the query stops."""
        first_batch = self.warmup_batches
        prog = [p for p in self.query.recentProgress
                if p["numInputRows"] and p["batchId"] >= first_batch]
        ops = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        rows = sum(p["numInputRows"] for p in prog)
        late = sum(f[3] for f in self.frames[first_batch:self.delivered])
        out = {f"streaming.{name}_ms": (_median(
            [p["durationMs"].get(key, 0) for p in prog]), "ms")
            for name, key in (("add_batch", "addBatch"),
                              ("get_batch", "getBatch"),
                              ("query_planning", "queryPlanning"),
                              ("wal_commit", "walCommit"),
                              ("commit_offsets", "commitOffsets"))}
        out["streaming.state_commit_ms"] = (
            _median([o["commitTimeMs"] for o in ops]), "ms")
        out["streaming.state_memory_bytes"] = (
            _median([o["memoryUsedBytes"] for o in ops]), "B")
        out["streaming.late_rows_share"] = (late / rows if rows else 0.0,
                                            "fraction")
        return out

    def replay(self) -> tuple[int, list]:
        """The monitor kernel alone on the driver: each bucket's fit
        snapshot folds the timed batches' acquisition dates one at a time
        at the bucket's width, with the state round trip the operator
        pays every batch."""
        import pyarrow.parquet as pq
        from nrt_spark.kernels.monitors import run_monitor
        from nrt_spark.state import pdf_to_state, state_to_pdf

        timed = self.frames[self.warmup_batches:self.delivered]
        mon_s = trip_s = 0.0
        for part in sorted(Path(self.fit_path).glob("bucket=*")):
            b = int(part.name.split("=")[1])
            pdf = pq.read_table(part).to_pandas() \
                .sort_values("doc_id", ignore_index=True)
            index = pd.Index(pdf["doc_id"])
            state = pdf_to_state(pdf)
            last = pdf["last_day"].to_numpy()
            for doc, day, val, n_late in timed:
                main = slice(0, len(doc) - n_late)
                y = np.full((1, len(pdf)), np.nan)
                k = index.get_indexer(doc[main])
                y[0, k[k >= 0]] = val[main][k >= 0]
                t0 = time.perf_counter()
                run_monitor(state, y, day[:1].astype(np.int64),
                            self.eng.params)
                t1 = time.perf_counter()
                state = pdf_to_state(state_to_pdf(state, index.to_numpy(),
                                                  b, last))
                t2 = time.perf_counter()
                mon_s += t1 - t0
                trip_s += t2 - t1
        n = max(1, len(timed))
        self.replays = {"kernels.run_monitor_s": mon_s / n,
                        "state.roundtrip_s": trip_s / n,
                        "kernels_s": mon_s / n}
        return 0, []

    def check(self) -> tuple[int, list]:
        spark = self.spark
        fails = []
        rep = spark.read.parquet(self.report)
        per_batch = (rep.groupBy("batch_id")
                     .agg(F.count("*").alias("n"),
                          F.countDistinct("doc_id").alias("d"))
                     .toPandas())
        if len(per_batch) != self.delivered:
            fails.append(f"nrt_stream: {len(per_batch)} batches reported "
                         f"for {self.delivered} files")
        bad = per_batch[(per_batch["n"] != self.n_series)
                        | (per_batch["d"] != self.n_series)]
        if len(bad):
            fails.append(f"nrt_stream: {len(bad)} batches without exactly "
                         "one row per series")
        last = int(per_batch["batch_id"].max())
        cols = ["doc_id", "mask", "process", "detection_date", "last_day"]
        got = (rep.where(F.col("batch_id") == last).select(*cols).toPandas()
               .sort_values("doc_id", ignore_index=True))
        obs = pd.concat([pd.DataFrame({"doc_id": f[0], "day": f[1],
                                       "value": f[2]})
                         for f in self.frames[:self.delivered]])
        want = (self.eng.monitor_obs(self.eng.load_state(self.fit_path),
                                     spark.createDataFrame(obs))
                .select(*cols).toPandas()
                .sort_values("doc_id", ignore_index=True))
        if not _frames_identical(got.astype(want.dtypes.to_dict()), want):
            fails.append("nrt_stream: final streamed state differs from "
                         "NrtEngine.monitor_obs over the same acquisitions")
        return 3, fails


WORKLOADS = {"archive": Archive, "backfill": Backfill,
             "nrt_stream": NrtStream}
