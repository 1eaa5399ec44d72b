"""Oracle-output hygiene gates (r7).

Two correctness hazards were root-caused in rounds 6-7, both invisible to
the sf0.01 hash gate until a checker-environment change exposed them:

1. DuckDB types ``SUM(BIGINT)`` as HUGEINT (INT128) unless cast, and the
   only two driver hash-reds ever recorded were exactly the two oracles
   whose FINAL result emitted a HUGEINT column (a fetch path that
   materializes INT128 via pandas float64/object diverges on the value
   hash while rows and schema still match). Rule: every oracle's final
   columns must land on plain portable types.

2. The query-hash ledger (tools/query_hashes.py) is what expires stale
   driver greens when a query changes; it only works if it is kept in
   sync with the registry. Rule: the committed ledger covers exactly the
   registered queries and matches their current content hashes.
"""

from __future__ import annotations

import pathlib

import duckdb
import pytest

from flink_realtime_data_eng_spark import registry

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

#: Types a driver fetch path round-trips identically to Spark's collect().
PORTABLE = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT",
            "DOUBLE", "FLOAT", "VARCHAR", "BOOLEAN", "DATE", "BLOB",
            "TIMESTAMP", "TIMESTAMP_NS", "TIMESTAMP WITH TIME ZONE"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS "
                  f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def test_no_exotic_oracle_output_types(con):
    """No oracle may emit HUGEINT/DECIMAL/LIST/STRUCT final columns —
    wrap wide aggregates in CAST(... AS BIGINT) (values that genuinely
    exceed int64 must be re-scaled on BOTH engines instead)."""
    bad = {}
    for name, sql in registry.ORACLES.items():
        rel = con.sql(sql)  # bind/plan only; nothing is fetched
        exotic = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                  if str(t) not in PORTABLE]
        if exotic:
            bad[name] = exotic
    assert not bad, f"oracles with non-portable output columns: {bad}"


#: Queries whose oracles round exact .5 ties BY DESIGN.
TIE_WHITELIST = {
    "x_round_ties",  # the canary that pins each engine's tie direction
}

#: LEGACY e6 snapped-tie sites: rounding sites where some fixture value
#: times 1e6 snaps onto an exact .5 the true value does not sit on.
#: All seven are long-term driver-green — on the double path both
#: engines resolve these identically (Spark rounds the shortest decimal
#: repr HALF_UP, DuckDB snaps and rounds half-away; for e6 ratios these
#: agree) — but they are in the zone where a DIFFERENT oracle type path
#: (DECIMAL-exact arithmetic) would diverge, which is exactly the r6
#: x_bucketed_join failure shape at e2. FROZEN: do not add names here.
#: New oracles must use tie-free fixed-point keys (round-workflow
#: rule 10) instead.
LEGACY_SNAP_SITES = {
    "x_unigram_logprob",
    "x_bigram_logprob",
    "x_label_centroids",
    "x_bpe_apply",
    "x_hist_quantiles",
    "x_domain_caps",
    "x_quality_auc",
}


def test_seeded_tie_fixture_fails():
    """Self-test: the instrumentation must catch a deliberately seeded
    e2 tie (2-dec price times 2-dec rate — the exact r6 hazard)."""
    from tools.tie_audit import instrument
    # 1.15 * (1 - 0.70): true decimal 0.3450 (a .5 tie at e2) but the
    # double is 0.344999999999999973... — the near-tie that diverges.
    seeded = """
    SELECT round(CAST(price AS DOUBLE) * (1 - CAST(disc AS DOUBLE)), 2)
           AS chg
    FROM (VALUES (1.15, 0.70), (3.50, 0.30)) AS t(price, disc)
    """
    sql, n = instrument(seeded, "seeded")
    assert n == 1
    c = duckdb.connect()
    with pytest.raises(Exception, match="rounding near-tie"):
        c.sql(sql).fetchall()
    # an EXACT binary-representable tie is safe (both engines round the
    # identical value half-away-from-zero — x_round_ties pins this)
    exact_sql, _ = instrument(
        "SELECT round(x, 2) AS r FROM (VALUES (CAST(0.125 AS DOUBLE))) "
        "t(x)", "exact")
    assert c.sql(exact_sql).fetchall() == [(0.13,)]
    # and a tie-free rounding sails through untouched
    ok_sql, _ = instrument(
        "SELECT round(x, 2) AS r FROM (VALUES (1.234), (9.876)) t(x)",
        "ok")
    assert c.sql(ok_sql).fetchall() == [(1.23,), (9.88,)]


def test_no_rounding_ties_in_any_oracle(con):
    """Structural r6-hazard gate: every registered oracle runs with all
    its round() sites instrumented to ERROR on a NEAR .5 tie (within
    1e-9 of the tie but not exactly on it — the zone where engine
    representation differences flip the rounding direction). A new
    oracle that rounds continuous data at a tie-prone scale fails here
    before it can reach the driver. Exact binary-representable ties are
    allowed: both engines round those half-away-from-zero identically
    (pinned by x_round_ties)."""
    from tools.tie_audit import instrument
    failures = {}
    for name, sql in registry.ORACLES.items():
        if name in TIE_WHITELIST or name in LEGACY_SNAP_SITES:
            continue
        inst, n_sites = instrument(sql, name)
        if n_sites == 0:
            continue
        try:
            con.sql(inst).fetchall()
        except Exception as e:  # noqa: BLE001 — collect all, report once
            failures[name] = str(e).split("\n")[0][:200]
    assert not failures, (
        f"oracles whose rounding hits a NEAR .5 tie on fixture data "
        f"(engine-dependent rounding direction hazard): {failures}")
    # keep LEGACY_SNAP_SITES honest: an entry that no longer trips the
    # canary has been rewritten tie-free — remove it from the freeze
    # list so it regains full coverage.
    stale = []
    for name in sorted(LEGACY_SNAP_SITES):
        inst, _ = instrument(registry.ORACLES[name], name)
        try:
            con.sql(inst).fetchall()
            stale.append(name)
        except Exception:
            pass
    assert not stale, (
        f"LEGACY_SNAP_SITES entries that no longer snap-tie — drop "
        f"them from the freeze list: {stale}")


def test_content_hashes_independent_of_import_order():
    """Content hashes must not depend on which package submodules other
    code happens to have imported first (r8 regression: `from . import
    kafka_standin` resolved to the PACKAGE in a fresh process because
    the submodule fallback built a '..X' name, so the callee silently
    dropped out of the hash until a test imported the module). Compute
    the full hash set in one interpreter before and after force-
    importing every package submodule — they must be identical."""
    import subprocess
    import sys
    code = (
        f"import sys; sys.path.insert(0, {str(ROOT)!r})\n"
        "from tools.query_hashes import content_hashes\n"
        "fresh = content_hashes()\n"
        "import importlib, pkgutil\n"
        "import flink_realtime_data_eng_spark as pkg\n"
        "for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + '.'):\n"
        "    try: importlib.import_module(m.name)\n"
        "    except Exception: pass\n"
        "warm = content_hashes()\n"
        "diff = [k for k in fresh if fresh[k] != warm.get(k)]\n"
        "print('DIFF', diff)\n")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "DIFF []" in r.stdout, r.stdout


def test_query_hash_ledger_in_sync():
    """query_hashes.json must cover exactly the registered queries with
    current content hashes — run `python tools/query_hashes.py update`
    after adding or editing a query/oracle."""
    from tools.query_hashes import content_hashes, load
    ledger, cur = load(), content_hashes()
    missing = sorted(set(cur) - set(ledger))
    stale_rows = sorted(set(ledger) - set(cur))
    drifted = sorted(n for n in cur
                     if n in ledger and ledger[n]["hash"] != cur[n])
    assert not (missing or stale_rows or drifted), (
        f"ledger out of sync — missing={missing} removed={stale_rows} "
        f"drifted={drifted}; run: python tools/query_hashes.py update")
