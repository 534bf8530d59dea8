"""Seeded input generator.

Every input the benchmark feeds the engine comes from here, and the seed is
the only thing that varies between two calls with the same size. The tables
follow the schemas of the engine's test data (TESTDATA.md, FIXTURES.md F9),
so the catalog entries run unchanged against a generated directory, and
their shape: ``TESTDATA_SHAPE`` below.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
# the test data's 30 document words, drawn uniformly
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_MARK = "dup"  # the token the test data appends to a near-copy
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

# The shape of the engine's sf0.1 test data (TESTDATA.md), as
# ``python3 perfbench/shape.py <dir>`` measures it. The generator takes its
# parameters from these figures; tests/test_perfbench.py checks that the
# generated data keeps them.
TESTDATA_SHAPE = {
    "events_per_user_day": 2.222,  # 100k events, 1.5k users, 30 days
    "single_event_session_share": 0.955,  # 30-minute gap, as the entries use
    "value_mean": 49.9,
    "value_median": 34.8,
    "lineitems_per_order": 4.08,
    "doc_tokens_mean": 54.1,  # 10 to 100 tokens
    "near_dup_doc_share": 0.092,  # documents in a MinHash pair, Jaccard >= 0.9
    "line_segment_repeat_share": 0.101,  # 10-token segments seen twice or more
}
NEAR_COPY_SHARE = 0.05  # 255 of the 5k test documents carry DUP_MARK
DOC_TOKENS = (10, 100)


@dataclass(frozen=True)
class Size:
    """Row counts and time span of one generated data set. User counts
    follow from ``TESTDATA_SHAPE["events_per_user_day"]``."""

    events: int
    event_days: int
    customers: int
    orders: int
    lineitems: int
    parts: int
    documents: int
    stream_events: int
    stream_files: int


# "full" is what the timed workloads run: sf0.1's events, sf0.01's TPC-H
# tables, and 1k documents. "smoke" keeps the benchmark's own tests quick.
# Both keep every table non-empty and every catalog entry producing rows.
SIZES = {
    "full": Size(
        events=100_000, event_days=30, customers=1_500, orders=15_000,
        lineitems=60_000, parts=2_000, documents=1_000, stream_events=6_000,
        stream_files=3,
    ),
    "smoke": Size(
        events=4_000, event_days=30, customers=300, orders=1_500,
        lineitems=6_000, parts=200, documents=300, stream_events=2_000,
        stream_files=3,
    ),
}


def _events(rng: np.random.Generator, n: int, days: int) -> pa.Table:
    ts = np.sort(rng.integers(0, days * DAY_US, n)) + EPOCH_US
    users = max(1, round(n / (TESTDATA_SHAPE["events_per_user_day"] * days)))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(TESTDATA_SHAPE["value_mean"], n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _tpch(rng: np.random.Generator, size: Size, out: str) -> None:
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )
    c = size.customers
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, c), 2)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)]),
            }
        ),
        os.path.join(out, "customer.parquet"),
    )
    o = size.orders
    day0 = np.datetime64("1992-01-01", "us").astype(np.int64)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
                "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, o), 2)),
                "o_orderdate": pa.array(
                    day0 + rng.integers(0, 2_400, o) * DAY_US, type=pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                        rng.integers(0, 5, o)
                    ]
                ),
            }
        ),
        os.path.join(out, "orders.parquet"),
    )
    n = size.lineitems
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, o, n, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, size.parts, n, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, max(1, size.parts // 20), n, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
                "l_shipdate": pa.array(
                    day0 + rng.integers(0, 2_500, n) * DAY_US, type=pa.timestamp("us")
                ),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniform random token documents, as in the test data, where a share of
    documents is a near-copy of an earlier one: its text plus ``DUP_MARK``.
    Near-copies are what the MinHash and line-dedup entries find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_COPY_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP_MARK)
            continue
        k = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def generate_tables(seed: int, size: Size, out: str) -> None:
    """Write every table the catalog entries and pipelines read."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(_events(rng, size.events, size.event_days), os.path.join(out, "events.parquet"))
    _tpch(rng, size, out)
    pq.write_table(_documents(rng, size.documents), os.path.join(out, "documents.parquet"))


def generate_stream(seed: int, size: Size, out: str) -> dict:
    """Generate a stream's events and split them into ``stream_files`` files
    by event time, fixing their arrival order through file modification
    times.

    The first file arrives a slot late, after the second, and the seed
    picks which events of each file are delivered again in the file that
    arrives next. Returns the arrival order
    and the largest event-time lag (in microseconds) of any event behind
    the newest event seen before its file arrives, so a caller can choose a
    watermark that drops nothing.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    events = _events(rng, size.stream_events, size.event_days)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    k = size.stream_files
    span = size.event_days * DAY_US
    slot = np.minimum(((ts - EPOCH_US) * k) // span, k - 1)
    # slot 0 arrives after slot 1; the late file is fixed so that every
    # seed makes the same amount of state and watermark work
    order = list(range(k))
    order[0], order[1] = order[1], order[0]
    parts = [events.filter(pa.array(slot == s)) for s in range(k)]
    batches: list[pa.Table] = []
    for pos, s in enumerate(order):
        t = parts[s]
        if pos > 0:
            prev = parts[order[pos - 1]]
            pick = rng.random(prev.num_rows) < 0.05
            t = pa.concat_tables([t, prev.filter(pa.array(pick))])
        batches.append(t)
    newest = EPOCH_US
    max_lag = 0
    for t in batches:
        col = t.column("ts").cast(pa.int64()).to_numpy()
        if len(col):
            max_lag = max(max_lag, newest - int(col.min()))
            newest = max(newest, int(col.max()))
    base = 1_600_000_000
    for pos, t in enumerate(batches):
        path = os.path.join(out, f"events-{pos:03d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + pos * 10, base + pos * 10))
    return {"order": order, "max_lag_us": max_lag, "rows": sum(t.num_rows for t in batches)}
