"""Make one run's inputs and the reference answers its output checks use.

Runs in its own process, before the engine starts and outside any timing,
so the generator's and DuckDB's memory never counts in the benchmark
process. Prints one JSON object with the references.

    python3 perfbench/prepare.py --workload heavy_batch --seed 7 --size full --out DIR
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys

import duckdb

import gen

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents")


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def turnaround_refs(seed: int, data_dir: str) -> dict:
    con = _connect(data_dir)
    f1 = dict(con.execute("SELECT event_type, count(*) FROM events GROUP BY 1").fetchall())
    users = [u for (u,) in con.execute("SELECT DISTINCT user_id FROM events ORDER BY 1").fetchall()]
    keys = [str(u) for u in random.Random(seed).sample(users, 4)]
    f5 = dict(
        con.execute(
            "SELECT CAST(user_id AS VARCHAR), count(*) FROM events "
            "WHERE CAST(user_id AS VARCHAR) IN (SELECT unnest(?)) GROUP BY 1",
            [keys],
        ).fetchall()
    )
    return {"f1_counts": f1, "f5_keys": keys, "f5_counts": f5}


def heavy_refs(data_dir: str, entries: list[str]) -> dict:
    from lrmr_spark.catalog import oracle_sql

    oracles = oracle_sql()
    con = _connect(data_dir)
    counts = {
        name: con.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
        for name in entries
        if name in oracles
    }
    return {"row_counts": counts}


def stream_refs(seed: int, size: gen.Size, data_dir: str) -> dict:
    stream_dir = os.path.join(data_dir, "stream")
    info = gen.generate_stream(seed, size, stream_dir)
    # the watermark delay covers two files' worth of event time plus a
    # margin, which the generator's late files and re-deliveries never
    # exceed, so the drains drop no input and match the batch result
    slot_hours = size.event_days * 24 / size.stream_files
    delay_hours = math.ceil(2 * slot_hours) + 12
    if info["max_lag_us"] >= delay_hours * 3_600_000_000:
        raise RuntimeError(f"generated lag {info['max_lag_us']} us exceeds the watermark delay")
    return {"stream_dir": stream_dir, "watermark_hours": delay_hours, **info}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(gen.SIZES), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--entries", default="", help="comma-separated catalog entries")
    args = ap.parse_args()
    size = gen.SIZES[args.size]
    gen.generate_tables(args.seed, size, args.out)
    if args.workload == "turnaround":
        refs = turnaround_refs(args.seed, args.out)
    elif args.workload == "heavy_batch":
        refs = heavy_refs(args.out, args.entries.split(","))
    elif args.workload == "stream_drain":
        refs = stream_refs(args.seed, size, args.out)
    elif args.workload == "heavy":
        refs = {**heavy_refs(args.out, args.entries.split(",")), **stream_refs(args.seed, size, args.out)}
    else:
        raise SystemExit(f"unknown workload {args.workload}")
    json.dump(refs, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
