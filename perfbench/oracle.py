"""Independent reference results, computed with DuckDB.

Batch queries are compared by row count and the order-insensitive value
hash of the repository's local oracle drive (``tools/verify_local.py``):
rows sorted, columns sorted by name, floats rounded to 6 decimals. The
stream job is recomputed from the generated browser-event CSV files.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import Counter

import duckdb

# The repository's local oracle drive owns the normalization and the table
# list. It prepends a fixed checkout path to ``sys.path`` when imported, so
# load the entry module it imports from this tree first and drop that path
# entry again.
import __spark_entry__  # noqa: E402,F401

_path = list(sys.path)
from tools.verify_local import TABLES, value_hash  # noqa: E402

sys.path[:] = _path


def batch_expected(data_dir: str, oracles: dict[str, str], names: list[str]) -> dict:
    """Expected (rows, hash) per query name from its DuckDB oracle SQL."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            rows = res.fetchall()
            out[name] = (len(rows), value_hash([d[0] for d in res.description], rows))
        return out
    finally:
        con.close()


_EVENTS = """
CREATE VIEW ev AS SELECT column1 AS "user", column2 AS action,
       CAST(column3 AS BIGINT) AS ts
FROM read_csv('{glob}', header = false, quote = '"',
              columns = {{'column0': 'BIGINT', 'column1': 'VARCHAR',
                          'column2': 'VARCHAR', 'column3': 'BIGINT'}})
"""

# Keyed 10 s tumbling counts; only windows the final watermark closed.
_COUNTS = """
SELECT window_start_ms, "user", action, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT (ts // 10000) * 10000 AS window_start_ms, "user", action FROM ev)
WHERE window_start_ms + 10000 <= {watermark_ms}
GROUP BY window_start_ms, "user", action
"""

# Action durations: each event reports its predecessor for the same user;
# no predecessor, a Logout predecessor or a Login event read as ('None', 0).
_DURATIONS = """
SELECT "user", ts AS "timestamp",
       CASE WHEN fresh THEN 'None' ELSE prev_action END AS prev_action,
       CASE WHEN fresh THEN 0 ELSE ts - prev_ts END AS duration_ms
FROM (SELECT *, (prev_action IS NULL OR prev_action = 'Logout'
                 OR action = 'Login') AS fresh
      FROM (SELECT *, lag(action) OVER w AS prev_action,
                   lag(ts) OVER w AS prev_ts
            FROM ev WINDOW w AS (PARTITION BY "user" ORDER BY ts)))
"""


def manifest_files(sink_dir: str) -> list[str]:
    """Data files named by the sink's published commit manifests."""
    files = []
    for m in sorted(glob.glob(os.path.join(sink_dir, "_manifests", "batch-*.json"))):
        with open(m) as fh:
            meta = json.load(fh)
        files += [os.path.join(sink_dir, meta["dir"], f) for f in meta["files"]
                  if f.endswith(".parquet")]
    return files


def _rows(con, sql: str) -> list[tuple]:
    res = con.execute(sql)
    return sorted(tuple(r) for r in res.fetchall())


def _published(con, files: list[str], cols: str) -> list[tuple]:
    if not files:
        return []
    listing = ", ".join(f"'{f}'" for f in files)
    return _rows(con, f"SELECT {cols} FROM read_parquet([{listing}])")


def stream_mismatches(landing_glob: str, counts_dir: str, durations_dir: str,
                      watermark_ms: int) -> dict[str, tuple[int, int]]:
    """Per query: (expected rows, rows missing or unexpected) comparing the
    published sink contents with a recomputation over the landing files."""
    con = duckdb.connect()
    try:
        con.execute(_EVENTS.format(glob=landing_glob))
        out = {}
        for name, sql, sink, cols in (
                ("counts", _COUNTS.format(watermark_ms=watermark_ms), counts_dir,
                 'window_start_ms, "user", action, CAST(cnt AS BIGINT)'),
                ("durations", _DURATIONS, durations_dir,
                 '"user", "timestamp", prev_action, duration_ms')):
            want = _rows(con, sql)
            got = _published(con, manifest_files(sink), cols)
            missing = _multiset_diff(want, got) + _multiset_diff(got, want)
            out[name] = (len(want), missing)
        return out
    finally:
        con.close()


def _multiset_diff(a: list[tuple], b: list[tuple]) -> int:
    return sum((Counter(a) - Counter(b)).values())
