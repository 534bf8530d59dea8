"""Measure the shape of a data directory: the figures the generator takes
from the engine's test data (``gen.TESTDATA_SHAPE``).

    python3 perfbench/shape.py DIR

Prints one JSON object. Run it on a test-data directory to re-derive the
generator's parameters, or on generated data to compare.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 30-minute gaps and 10-token segments, as events_sessionization and
# text_line_dedup_index use them
_SQL = {
    "events_per_user_day": """
        SELECT count(*) / count(DISTINCT user_id)
               / ((epoch_us(max(ts)) - epoch_us(min(ts))) / 86400e6)
        FROM events""",
    "single_event_session_share": """
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) <= 1800000000
                      THEN 0 ELSE 1 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM g)
        SELECT avg(CASE WHEN n = 1 THEN 1.0 ELSE 0.0 END)
        FROM (SELECT count(*) AS n FROM s GROUP BY user_id, sid)""",
    "value_mean": "SELECT avg(value) FROM events",
    "value_median": "SELECT median(value) FROM events",
    "lineitems_per_order": "SELECT count(*) / count(DISTINCT l_orderkey) FROM lineitem",
    "doc_tokens_mean": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "near_dup_doc_share": """
        SELECT count(DISTINCT d) / (SELECT count(*) FROM documents)
        FROM (SELECT unnest([id_a, id_b]) AS d FROM ({pairs}))""",
    "line_segment_repeat_share": """
        WITH t AS (SELECT string_split(text, ' ') AS tv FROM documents),
        s AS (
          SELECT array_to_string(tv[i * 10 + 1 : i * 10 + 10], ' ') AS seg
          FROM (SELECT tv, unnest(range(CAST(ceil(len(tv) / 10) AS BIGINT))) AS i FROM t))
        SELECT avg(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END)
        FROM (SELECT count(*) OVER (PARTITION BY seg) AS df FROM s)""",
}


def measure(data_dir: str) -> dict[str, float]:
    sys.path.insert(0, ROOT)
    from lrmr_spark.catalog.dedup_ops import _minhash_oracle

    con = duckdb.connect()
    for t in ("events", "lineitem", "documents"):
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    # the pair definition of dedup_minhash_lsh_fast: 16 hashes, 4 bands
    pairs = _minhash_oracle(num_hashes=16, bands=4, threshold=0.9)
    return {
        name: float(con.execute(sql.replace("{pairs}", pairs)).fetchone()[0])
        for name, sql in _SQL.items()
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(measure(sys.argv[1]), indent=1))
