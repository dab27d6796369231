#!/usr/bin/env python3
"""Deterministic sf1 test-table synthesis: a 10x referential-integrity-
preserving expansion of the driver's sf0.1 parquet tables.

The driver only ships sf0.001/0.01/0.1; the sf1 dry pass (full
50-query registry + DuckDB oracle at 10x the certified scale) needs a
bigger input.  Both engines read the SAME generated files, so the
cross-engine compare is valid regardless of how the data was made —
what matters is determinism and FK consistency:

- every key column (PK and the FKs that reference it) gets the same
  ``replica * STRIDE`` offset, so joins resolve within a replica
  exactly as they do at sf0.1;
- region/nation stay as-is (dimension tables, already referenced by
  unchanged nationkey columns);
- text/embedding payloads are NOT perturbed: every replica duplicates
  every text and every vector exactly, which deliberately stresses the
  dedup/ANN surface (cross-replica duplicate groups, cosine==1 ties —
  broken by id on both engines).  NOTE: 20k vectors is still BELOW ivf_train's
  hash-threshold sample cutoff (4x the 10k default sample), so the
  dry pass exercises the unfiltered IVF branch; the filtered branch
  is covered by tests/test_dataops.py::test_ivf_train_hash_sample_path.

Also the sf10 generator (round-6 verdict #3's superlinear-scaler
probe): ``--replicas 100`` produces a 100x expansion with the same
key law (STRIDE=1e9 keeps 100 replicas far below int64), so the
duplicate-group size grows 10 -> 100 copies per payload — the
pair-mining output grows ~C(100,2)/C(10,2) = 110x per group, which a
fair sf1 -> sf10 scaling read must normalize for (see BENCH.md).

Usage: python tools/gen_sf1.py [OUT_DIR] [--replicas N]
       (default /tmp/nrt_sf1, 10 replicas)
"""

from __future__ import annotations

from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
STRIDE = 1_000_000_000
REPLICAS = 10

#: key columns offset by replica*STRIDE (PKs and the FKs naming them)
OFFSET_COLS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def generate(out_dir: str, replicas: int = REPLICAS,
             tables: list[str] | None = None) -> None:
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for table, keys in OFFSET_COLS.items():
        if tables is not None and table not in tables:
            continue
        src = f"{SRC}/{table}.parquet"
        dst = out / f"{table}.parquet"
        if not keys:                       # shared dimension: copy as-is
            con.sql(f"COPY (SELECT * FROM '{src}') TO '{dst}' "
                    f"(FORMAT PARQUET)")
            continue
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        sel = ", ".join(
            f"({c} + r.k * {STRIDE}) AS {c}" if c in keys else c
            for c in cols)
        con.sql(
            f"COPY (SELECT {sel} FROM '{src}', "
            f"(SELECT unnest(range({replicas})) AS k) r "
            f"ORDER BY r.k, {keys[0]}) TO '{dst}' (FORMAT PARQUET)")
        n = con.sql(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
        print(f"{table}: {n} rows -> {dst}", flush=True)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", nargs="?", default="/tmp/nrt_sf1")
    ap.add_argument("--replicas", type=int, default=REPLICAS,
                    help=f"expansion factor over sf0.1 "
                         f"(default {REPLICAS} = sf1; 100 = sf10)")
    ap.add_argument("--tables", default="",
                    help="comma-separated subset to generate (default "
                         "all) — e.g. the sf100 probe only needs "
                         "events,documents,embeddings")
    a = ap.parse_args()
    generate(a.out_dir, replicas=a.replicas,
             tables=[t for t in a.tables.split(",") if t] or None)
