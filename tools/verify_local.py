"""Local mimic of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` member on Spark and, where an
oracle exists, the matching ``oracle_sql()`` on DuckDB over the same
parquet tables; compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
floats rounded to 6 decimals before hashing).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import pathlib
import sys
import time
import traceback

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from flink_realtime_data_eng_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        r = round(v, 6)
        if r == 0:
            r = 0.0  # normalize -0.0: a ±0.0 split across engines is equal
        return f"{r:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in qs if not only or n in only]
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # print first few differing lines for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted("|".join(_norm_cell(r[i]) for i in so) for r in srows)
                oset = sorted("|".join(_norm_cell(r[i]) for i in oo) for r in orows)
                diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
                for a, b in diffs:
                    print(f"    spark : {a[:200]}\n    oracle: {b[:200]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail / {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
