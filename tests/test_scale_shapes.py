"""Scale-shape regression tests: multi-chunk stateful ordering and
physical-plan properties (pushdown, pruning) that must survive growth."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from flink_realtime_data_eng_spark import sinks, sources
from flink_realtime_data_eng_spark.operators import stateful as batch_stateful
from flink_realtime_data_eng_spark.plans import relational
from flink_realtime_data_eng_spark.streaming import stateful


def test_stateful_stream_one_key_spanning_many_arrow_chunks(spark, tmp_path):
    """25k rows for ONE key in one micro-batch arrive as multiple Arrow
    chunks (default 10k rows each) in shuffle order; the state machine must
    still process in (ts, id) order — this is the chunk-concat guarantee."""
    src = tmp_path / "big"
    src.mkdir()
    n = 25_000
    base = 1_700_000_000_000
    # Write timestamps DESCENDING in the file so any order-sensitivity shows.
    lines = [f'"u","{base + (n - 1 - i) * 10}","{i}","View{i % 3}"'
             for i in range(n)]
    (src / "a.csv").write_text("\n".join(lines) + "\n")
    schema = T.StructType([
        T.StructField("user", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("eid", T.LongType()),
        T.StructField("action", T.StringType()),
    ])
    stream = sources.file_csv_stream(spark, str(src), schema)
    out = stateful.action_durations_stream(
        stream, key="user", ts_ms="ts_ms", action_col="action",
        session_start=None, session_end=None, order_by=["ts_ms", "eid"])
    import uuid
    name = "big" + uuid.uuid4().hex[:8]
    sinks.run_available_now(sinks.memory_sink(out, name))
    result = spark.sql(f"SELECT * FROM {name}")

    batch = spark.createDataFrame(
        [("u", base + (n - 1 - i) * 10, i, f"View{i % 3}") for i in range(n)],
        schema)
    expected = batch_stateful.action_durations(
        batch, key="user", ts_ms="ts_ms", action_col="action",
        order_by=["ts_ms", "eid"])
    got = sorted((r["eid"], r["prev_action"], r["duration_ms"])
                 for r in result.collect())
    want = sorted((r["eid"], r["prev_action"], r["duration_ms"])
                  for r in expected.collect())
    assert got == want
    # sanity: consecutive rows are 10 ms apart except the very first
    assert sum(1 for _, _, d in got if d == 10) == n - 1


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark):
    df = relational.pricing_summary(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # Projection pruning: the scan must NOT read join-irrelevant columns.
    read_schema = plan.split("ReadSchema")[1][:400]
    for needed in ["l_quantity", "l_extendedprice", "l_returnflag"]:
        assert needed in read_schema
    for pruned in ["l_orderkey", "l_partkey", "l_suppkey"]:
        assert pruned not in read_schema


def test_q5_no_forced_broadcast_of_scaled_tables(spark):
    """The only explicit broadcast hints in Q5 wrap region/nation — never
    customer/orders/lineitem (round-1 scale bug, fixed; keep it fixed)."""
    df = relational.local_supplier_volume(spark, "/root/testdata/sf0.001")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    import re
    hints = analyzed.count("ResolvedHint")
    assert hints == 2  # broadcast(region-filtered) and broadcast(nation⋈region)
    # customer's scan must not sit directly under a hint: check that no hint
    # section mentions c_mktsegment/c_custkey before the next join keyword.
    for seg in analyzed.split("ResolvedHint")[1:]:
        head = seg[:400]
        assert "customer" not in head.lower() or "nation" in head.lower()


def test_salted_agg_equals_plain_agg(spark):
    from flink_realtime_data_eng_spark.operators.skew import salted_agg, salted_count
    # one pathologically hot key + some cold ones
    rows = [("hot", i % 7) for i in range(5000)] + [("cold" + str(j), j) for j in range(20)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {(r["k"]): (r["cnt"], r["sum_v"], r["min_v"], r["max_v"])
           for r in salted_agg(
               df, ["k"],
               partials=[(F.count(F.lit(1)), "cnt"), (F.sum("v"), "sum_v"),
                         (F.min("v"), "min_v"), (F.max("v"), "max_v")],
               finals=[("sum", "cnt"), ("sum", "sum_v"),
                       ("min", "min_v"), ("max", "max_v")],
               salt=16).collect()}
    want = {r["k"]: (r["cnt"], r["sum_v"], r["min_v"], r["max_v"])
            for r in df.groupBy("k").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"), F.max("v").alias("max_v")).collect()}
    assert got == want
    # count helper with a deterministic salt column behaves identically
    got_c = {r["k"]: r["cnt"] for r in salted_count(df, ["k"], salt=8).collect()}
    assert got_c == {k: v[0] for k, v in want.items()}
    # the salted plan really does split the hot key across >1 partial rows
    stage1 = (df.withColumn("_salt", F.pmod(F.hash("v"), F.lit(8)))
                .groupBy("k", "_salt").count())
    assert stage1.filter(F.col("k") == "hot").count() > 1


def test_q4_semi_join_never_duplicates_orders(spark):
    """Q4's EXISTS must be a LEFT SEMI join (one output row per qualifying
    order however many late lines it has)."""
    df = relational.order_priority_check(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "LeftSemi" in plan
    # aggregate input = orders rows; total count equals distinct-order count
    total = sum(r["order_count"] for r in df.collect())
    import duckdb
    exact = duckdb.sql("""
        SELECT count(DISTINCT o.o_orderkey)
        FROM read_parquet('/root/testdata/sf0.001/orders.parquet') o
        JOIN read_parquet('/root/testdata/sf0.001/lineitem.parquet') l
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
    """).fetchone()[0]
    assert total == exact


def test_q19_single_join_not_union_of_scans(spark):
    """The OR-band predicate must stay a residual filter on ONE partkey
    join — exactly one lineitem scan in the plan."""
    df = relational.disjunctive_part_revenue(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert "Union" not in plan


def test_bucketed_join_elides_all_exchanges(spark, tmp_path):
    """Bucketing is the pay-the-shuffle-once contract: a fact-fact equi-join
    on the bucket key must plan with ZERO Exchange operators (and, with
    sorted buckets, zero Sorts)."""
    import uuid
    from flink_realtime_data_eng_spark.operators import bucketing
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bl_{suffix}", f"br_{suffix}"
    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_ord = spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        ba = bucketing.write_bucketed(a, ta, 4, "k")
        bb = bucketing.write_bucketed(b, tb, 4, "k")
        joined = ba.join(bb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # one file per bucket (via the pre-write repartition) => Spark
        # trusts bucket sortedness and skips the per-side Sort as well
        assert "Sort [" not in plan
        assert joined.count() == 10_000
        # the same layout serves aggregation on the bucket key shuffle-free
        agg = ba.groupBy("k").count()
        assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", prev_ord)
        bucketing.drop_bucketed(spark, ta, tb)


def test_q22_anti_join_in_plan(spark):
    """Q22's NOT EXISTS must plan as LEFT ANTI, with nonzero survivors on
    the fixture (an empty anti side would make the check vacuous)."""
    df = relational.idle_rich_customers(spark, "/root/testdata/sf0.001")
    assert "LeftAnti" in _plan(df)
    assert df.count() > 0


def test_q13_left_outer_keeps_zero_order_customers(spark):
    """Q13's point is the LEFT OUTER join: customers with no qualifying
    orders must appear in the c_count=0 bucket, and every customer must be
    counted exactly once across buckets."""
    df = relational.customer_order_distribution(
        spark, "/root/testdata/sf0.001", since="2001-01-01")
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    n_cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    assert sum(rows.values()) == n_cust
    assert 0 in rows  # inner join would erase this bucket


def test_q15_max_filter_is_exact_and_single_agg(spark):
    """Q15's 'revenue equal to max' must reuse ONE per-supplier aggregate
    (broadcast 1-row max, no second lineitem scan) and return exactly the
    argmax set."""
    df = relational.top_supplier(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # one Exchange for the supplier aggregate; a re-scan would add a second
    # lineitem FileScan
    assert plan.count("lineitem.parquet") == 1
    rows = df.collect()
    assert len(rows) >= 1
    assert len({r["total_rev_e4"] for r in rows}) == 1


def test_q8_share_bounds_and_dim_broadcasts(spark):
    """Q8's market share is a ratio in [0,1] per year, and the part/nation
    dims must arrive via broadcast joins (no shuffle for dim lookups)."""
    df = relational.nation_market_share(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    for r in df.collect():
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["nation_rev_e4"] <= r["total_rev_e4"]


def test_q17_half_average_integer_exact(spark):
    """Q17's below-half-average predicate must agree with a literal
    recomputation in pandas on the fixture (integer cross-multiplication,
    no float-division drift)."""
    import pandas as pd
    sf = "/root/testdata/sf0.001"
    got = relational.small_quantity_revenue(spark, sf, brand="Brand#1").collect()[0]
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    pt = pd.read_parquet(f"{sf}/part.parquet")
    keep = li.merge(pt[pt.p_brand == "Brand#1"][["p_partkey"]],
                    left_on="l_partkey", right_on="p_partkey")
    keep["qty_e4"] = (keep.l_quantity * 10000).round().astype("int64")
    g = keep.groupby("l_partkey").qty_e4.agg(["sum", "count"])
    keep = keep.join(g, on="l_partkey")
    small = keep[2 * keep.qty_e4 * keep["count"] < keep["sum"]]
    want_rev = int((small.l_extendedprice * (1 - small.l_discount) * 10000)
                   .round().astype("int64").sum())
    assert got["n_lines"] == len(small)
    assert got["revenue_e4"] == want_rev


def test_partitioned_layout_prunes_at_scan(spark, tmp_path):
    """A filter on the partition column must become PartitionFilters on the
    scan (directory pruning), not a post-scan Filter over all rows."""
    from flink_realtime_data_eng_spark.operators import bucketing
    df = spark.createDataFrame(
        [(i, ["click", "view", "buy"][i % 3], i * 1.5) for i in range(300)],
        "id long, event_type string, value double")
    back = bucketing.write_partitioned(
        df, str(tmp_path / "part"), "event_type", sort_cols=("id",))
    q = back.filter(F.col("event_type") == "click").select("id")
    plan = _plan(q)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "event_type" in seg
    assert q.count() == 100
    # the partition column itself is NOT a data filter (no post-scan read)
    pushed = plan.split("PushedFilters")[1][:120] if "PushedFilters" in plan \
        else ""
    assert "event_type" not in pushed


def test_partitioned_roundtrip_preserves_schema(spark, tmp_path):
    """Read-back must return the INPUT schema: original column order and
    no partition-value type inference ('007' stays a string, zeros kept)."""
    from flink_realtime_data_eng_spark.operators import bucketing
    df = spark.createDataFrame(
        [("007", 1, 2.5), ("2024", 2, 3.5)], "code string, id long, v double")
    back = bucketing.write_partitioned(df, str(tmp_path / "p2"), "code")
    assert back.schema == df.schema
    assert sorted(r["code"] for r in back.collect()) == ["007", "2024"]


def test_q21_sole_late_supplier_no_self_join(spark):
    """Tiny hand corpus: order 1 has two suppliers, only supplier 10 late
    (qualifies); order 2 single-supplier late (fails EXISTS); order 3 has
    two late suppliers (fails NOT EXISTS). Plan must contain no join
    between lineitem-derived branches (window rewrite, not self-join)."""
    import datetime as dt
    from unittest import mock
    d = lambda s: dt.datetime.fromisoformat(s)
    li = spark.createDataFrame(
        [(1, 10, d("1997-06-01")), (1, 11, d("1997-01-05")),
         (2, 10, d("1997-06-01")),
         (3, 10, d("1997-06-01")), (3, 11, d("1997-07-01"))],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp")
    o = spark.createDataFrame(
        [(1, "F", d("1997-01-01")), (2, "F", d("1997-01-01")),
         (3, "F", d("1997-01-01"))],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp")
    s = spark.createDataFrame([(10, "S10"), (11, "S11")],
                              "s_suppkey long, s_name string")
    tables = {"lineitem": li, "orders": o, "supplier": s}
    with mock.patch.object(relational, "load_table",
                           lambda _sp, _sf, t: tables[t]):
        out = relational.waiting_orders(spark, "ignored")
        assert [(r["s_name"], r["numwait"]) for r in out.collect()] \
            == [("S10", 1)]
        # exactly 2 joins (lineitem⋈orders, supplier lookup) and a Window:
        # the EXISTS/NOT-EXISTS pair must NOT appear as extra self-joins
        plan = _plan(out).split("== Initial Plan ==")[0]
        assert plan.count("Join") == 2 and "Window" in plan


def test_q2_keeps_all_min_cost_ties(spark):
    """Two suppliers at the same minimum unit price for one part must BOTH
    survive the argmin (Q2 tie semantics via window-min equality)."""
    import datetime as dt
    from unittest import mock
    d = dt.datetime.fromisoformat
    li = spark.createDataFrame(
        [(1, 10, 100, 2.0, 20.0, d("1997-01-01")),
         (2, 11, 100, 4.0, 40.0, d("1997-01-01")),   # same 10.0 unit price
         (3, 12, 100, 1.0, 99.0, d("1997-01-01"))],  # more expensive
        "l_orderkey long, l_suppkey long, l_partkey long, "
        "l_quantity double, l_extendedprice double, l_shipdate timestamp")
    p = spark.createDataFrame([(100, "bolt", "T", 15)],
                              "p_partkey long, p_name string, "
                              "p_type string, p_size int")
    s = spark.createDataFrame(
        [(10, "S10", 5.0, 0), (11, "S11", 6.0, 0), (12, "S12", 7.0, 0)],
        "s_suppkey long, s_name string, s_acctbal double, s_nationkey int")
    n = spark.createDataFrame([(0, "N", 0)],
                              "n_nationkey int, n_name string, "
                              "n_regionkey int")
    r = spark.createDataFrame([(0, "EUROPE")],
                              "r_regionkey int, r_name string")
    tables = {"lineitem": li, "part": p, "supplier": s,
              "nation": n, "region": r}
    with mock.patch.object(relational, "load_table",
                           lambda _sp, _sf, t: tables[t]):
        out = relational.min_cost_supplier(spark, "ignored")
        got = sorted((row["s_name"], row["cost_e4"])
                     for row in out.collect())
        assert got == [("S10", 100000), ("S11", 100000)]


def test_range_sorted_export_is_globally_ordered_across_files(spark, tmp_path):
    """Each output file must be internally sorted AND file key-ranges must
    be pairwise disjoint — together that IS global order, achieved with
    range partitioning instead of a single-reducer global sort."""
    import glob
    import pyarrow.parquet as pq
    from flink_realtime_data_eng_spark.operators import bucketing
    df = (spark.range(0, 10_000)
          .selectExpr("pmod(hash(id), 1000000) AS k", "id AS v"))
    back = bucketing.write_range_sorted(df, str(tmp_path / "rs"), "k",
                                        num_files=8)
    assert back.count() == 10_000
    ranges = []
    for f in glob.glob(str(tmp_path / "rs" / "part-*.parquet")):
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        if not ks:
            continue
        assert ks == sorted(ks), f"file {f} not internally sorted"
        ranges.append((ks[0], ks[-1]))
    ranges.sort()
    assert len(ranges) > 1  # range partitioning actually split the data
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo, "file key ranges overlap — not a total order"


def test_key_skew_profile_two_level_topk_is_exact(spark):
    """The bucketed two-level top-k must equal the naive global top-k, flag
    the hot key with skew_ratio >> 1, and sentinel NULL keys."""
    from flink_realtime_data_eng_spark.operators.stats import key_skew_profile
    rows = ([("hot", 1)] * 60 + [(f"c{i}", None) for i in range(40)])
    df = spark.createDataFrame(rows, "k string, g string")
    out = key_skew_profile(df, ["k", "g"], k=3).collect()
    by = {(r["col"], r["rank"]): r for r in out}
    top_k = by[("k", 1)]
    assert top_k["key"] == "hot" and top_k["cnt"] == 60
    # 41 distinct k values, hot share 0.6 → ratio 24.6
    assert top_k["n_distinct"] == 41 and top_k["skew_ratio"] > 20
    # NULL keys group under the sentinel with an exact count
    null_g = by[("g", 2)]
    assert null_g["key"] == "<NULL>" and null_g["cnt"] == 40
    assert by[("g", 1)]["key"] == "1" and by[("g", 1)]["cnt"] == 60
    # ranks are contiguous up to min(k, n_distinct) per column (exact
    # top-k survived the bucket split; g only has 2 distinct keys)
    assert {(c, r) for (c, r) in by} == {("k", 1), ("k", 2), ("k", 3),
                                         ("g", 1), ("g", 2)}


def test_partitioned_prune_query_scans_only_one_partition(spark):
    """The registry's layout round-trip query must actually PRUNE: the
    parquet scan reads exactly one event_type directory."""
    from flink_realtime_data_eng_spark import registry
    df = registry.QUERIES["x_partitioned_prune"](spark,
                                                 "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "event_type=click" in plan or "PartitionFilters" in plan
    assert df.count() > 0


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Footer-stats proof that the Morton layout gives BOTH columns
    locality: a box predicate on the raw columns overlaps a minority of
    row groups, while a single-column sort leaves the second column's
    stats spanning the full domain (no skipping on that dimension)."""
    import glob as _glob
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from flink_realtime_data_eng_spark.operators import bucketing
    from flink_realtime_data_eng_spark.schemas import load_table
    ev = (load_table(spark, "/root/testdata/sf0.01", "events")
          .withColumn("day", F.expr("ts_ms div 86400000").cast("bigint"))
          .select("event_id", "user_id", "value", "day"))

    def overlap_frac(path, lo_u, hi_u, lo_d, hi_d):
        tot = hit = 0
        for f in _glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i
                    for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                su = g.column(cols["user_id"]).statistics
                sd = g.column(cols["day"]).statistics
                tot += 1
                if (su.min <= hi_u and su.max >= lo_u
                        and sd.min <= hi_d and sd.max >= lo_d):
                    hit += 1
        return hit / tot, tot

    z = str(tmp_path / "zord")
    bucketing.write_zordered(ev, z, "user_id", "day", bits=8, num_files=32)
    s = str(tmp_path / "usort")
    (ev.repartitionByRange(32, "user_id").sortWithinPartitions("user_id")
       .write.mode("overwrite").parquet(s))
    # The z-order claim: BOTH dimensions retain pruning power. A layout
    # sorted only on user_id cannot skip anything for a day-range query
    # (every row group spans all days); the z-layout can.
    daybox = (0, 149, 19730, 19739)   # all users, ~33% of days
    zf, zt = overlap_frac(z, *daybox)
    uf, ut = overlap_frac(s, *daybox)
    assert zt >= 16 and ut >= 16
    assert uf == 1.0, uf          # 1-D sort: zero skipping on dim 2
    assert zf <= 0.8, zf          # z-layout: real skipping on dim 2
    # ... while a 2-D box still prunes hard (user slab x day stripe)
    zb, _ = overlap_frac(z, 100, 140, 19730, 19739)
    assert zb <= 0.45, zb


def test_temperature_sample_broadcasts_probs_no_corpus_shuffle(spark):
    """The per-source keep-prob frame must reach the corpus as a broadcast
    hash join — the corpus side of the filter never shuffles."""
    from flink_realtime_data_eng_spark.functions import packing
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (packing.temperature_sample(d, tau=0.5)._jdf.queryExecution()
            .executedPlan().toString().split("== Initial Plan ==")[0])
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:400]
    assert "SortMergeJoin" not in plan, plan[:400]


def test_group_sample_single_shuffle_partitioned_window(spark):
    """k-per-stratum sampling = ONE hash shuffle on the stratum + a
    partition-local rank; never a single-partition window."""
    from flink_realtime_data_eng_spark.functions import sketches
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "source")
    plan = (sketches.group_sample(d, "source", "doc_id", k=3)
            ._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "SinglePartition" not in plan, plan[:400]
    assert plan.count("Exchange hashpartitioning") >= 1


def test_multiprobe_is_equi_join_not_nested_loop(spark):
    """Multi-probe expands the QUERY side; the corpus joins on the probe
    bucket as an equi-join (broadcast hash), never a nested loop."""
    from pyspark.sql import functions as F
    from flink_realtime_data_eng_spark.functions import similarity
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = (similarity.lsh_multiprobe_topk(emb, q, k=3)
            ._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "BroadcastNestedLoopJoin" not in plan and \
           "CartesianProduct" not in plan, plan[:400]


def test_neardup_keep_anti_join_strategy_left_to_aqe(spark):
    """The keep-list applies as an ids-only LEFT ANTI join whose strategy
    is deliberately UNHINTED: AQE broadcasts the duplicate-scale drop list
    while it fits (it does here — verify the adaptive final plan) but may
    shuffle it on a pathologically duplicate-heavy corpus. A forced
    broadcast would be the q5-class scale bug."""
    from flink_realtime_data_eng_spark.functions import dedup
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = dedup.neardup_keep(d, threshold=0.5)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    df.collect()  # let AQE finalize
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in final, final[:600]
    assert "BroadcastHashJoin" in final, final[:600]  # AQE's pick here


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """Spark's runtime Bloom-filter injection — the 100 TB lever that
    pre-filters the big side of a selective fact join before the shuffle.
    Fixture tables sit under the default creation-side threshold, so the
    test tunes the thresholds to prove the plan shape + correctness; at
    real scale the defaults trigger on their own."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        o = (spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
               .groupBy("o_orderpriority").count())
        assert "bloom" in j._jdf.queryExecution().executedPlan() \
            .toString().lower()
        got = j.collect()[0]["count"]
        import duckdb
        want = duckdb.sql("""
            SELECT count(*) FROM
            read_parquet('/root/testdata/sf0.01/lineitem.parquet') l JOIN
            read_parquet('/root/testdata/sf0.01/orders.parquet') o
            ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderpriority = '1-URGENT'""").fetchone()[0]
        assert got == want
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_salted_join_equals_plain_join(spark):
    from flink_realtime_data_eng_spark.operators.skew import salted_join
    big = spark.createDataFrame(
        [("hot", i) for i in range(3000)] + [("c" + str(j), j) for j in range(30)],
        "k string, v long")
    dim = spark.createDataFrame(
        [("hot", "H"), ("c1", "C1"), ("c7", "C7")], "k string, tag string")
    got = sorted((r["k"], r["v"], r["tag"])
                 for r in salted_join(big, dim, "k", salt=8).collect())
    want = sorted((r["k"], r["v"], r["tag"])
                  for r in big.join(dim, "k").collect())
    assert got == want
    # the hot key genuinely spreads across >1 salt bucket
    from pyspark.sql import functions as FF
    spread = (big.withColumn(
        "_s", FF.pmod(FF.hash("k", "v"), FF.lit(8)))
        .filter(FF.col("k") == "hot").select("_s").distinct().count())
    assert spread > 1


def test_global_prefix_sum_no_single_partition_window(spark):
    """The two-phase prefix sum must equal SUM OVER (ORDER BY) exactly
    while every window in its plan is partitioned (no 1-task funnel)."""
    from flink_realtime_data_eng_spark.operators import stats
    df = spark.range(0, 5000).selectExpr("id AS k", "(id % 97) AS v")
    out = stats.global_prefix_sum(df, "v", "k", num_ranges=8)
    got = {r["k"]: r["running_total"] for r in out.collect()}
    want, acc = {}, 0
    for k in range(5000):
        acc += k % 97
        want[k] = acc
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    # exactly ONE single-partition exchange exists, and it carries the
    # per-partition totals (num_ranges rows), never the data: the
    # row-level cumsum window is partitioned by _pid.
    assert plan.count("Exchange SinglePartition") == 1, plan[:600]
    seg = plan.split("Exchange SinglePartition")[0]
    assert "_min_key" in seg.rsplit("Window", 1)[-1]  # totals window only


def test_global_prefix_max_no_single_partition_data_window(spark):
    """The prefix-max twin keeps the same scale shape: the only
    single-partition exchange carries per-partition maxima, not rows —
    and the strict mode reproduces x_disorder_stats' running-max
    regression without a one-task window."""
    from flink_realtime_data_eng_spark.operators import stats
    df = spark.range(0, 3000).selectExpr("id AS k", "((id * 37) % 991) AS v")
    out = stats.global_prefix_max(df, "v", "k", inclusive=False,
                                  num_ranges=8)
    got = {r["k"]: r["running_max"] for r in out.collect()}
    run = None
    for k in range(3000):
        assert got[k] == run
        v = (k * 37) % 991
        run = v if run is None else max(run, v)
    plan = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert plan.count("Exchange SinglePartition") == 1, plan[:600]


def test_grouped_prefix_max_matches_window_and_stays_partitioned(spark):
    """group_cols mode: per-group strict running max equals the per-group
    ordered window exactly, with NO single-partition exchange anywhere —
    the offsets window is partitioned by group over the totals frame, so
    a corpus-scale group never funnels through one task. This is the
    registered shape of x_disorder_stats."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as FF

    from flink_realtime_data_eng_spark.operators import stats
    df = spark.range(0, 4000).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS g", "((id * 37) % 991) AS v")
    out = stats.global_prefix_max(df, "v", "k", inclusive=False,
                                  num_ranges=8, group_cols=["g"])
    got = {r["k"]: r["running_max"] for r in out.collect()}
    w = (W.partitionBy("g").orderBy("k")
         .rowsBetween(W.unboundedPreceding, -1))
    want = {r["k"]: r["m"] for r in
            df.withColumn("m", FF.max("v").over(w)).collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan, plan[:600]


def test_x_disorder_stats_scale_and_window_forms_agree(spark, monkeypatch):
    """The SPARK_GRAFT_DISORDER_WINDOW=1 fallback (plain per-type window)
    must answer exactly what the registered two-phase form answers."""
    from flink_realtime_data_eng_spark import registry
    sf = "/root/testdata/sf0.001"
    scale = sorted(map(tuple,
                       registry.QUERIES["x_disorder_stats"](spark, sf)
                       .collect()))
    monkeypatch.setenv("SPARK_GRAFT_DISORDER_WINDOW", "1")
    window = sorted(map(tuple,
                        registry.QUERIES["x_disorder_stats"](spark, sf)
                        .collect()))
    assert scale == window


def test_x_bucketed_join_scans_elide_exchanges(spark):
    """The registered bucketed-join query's join region must read both
    bucketed scans with NO Exchange (the layout pays the shuffle at write
    time); re-attaching the persisted location to a fresh catalog keeps
    the same property — the restart path a real cluster job takes."""
    from flink_realtime_data_eng_spark import registry
    from flink_realtime_data_eng_spark.operators import bucketing
    sf = "/root/testdata/sf0.001"
    o_tbl, l_tbl = registry._bucketed_tpch_tables(spark, sf)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        join = (spark.table(o_tbl)
                .join(spark.table(l_tbl),
                      F.col("o_orderkey") == F.col("l_orderkey")))
        plan = join._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        # drop ONLY the catalog metadata, then re-attach the persisted
        # location: exchange elision must survive the "restart"
        bucketing.drop_bucketed(spark, o_tbl)
        o_tbl2, _ = registry._bucketed_tpch_tables(spark, sf)
        assert o_tbl2 == o_tbl
        join2 = (spark.table(o_tbl2)
                 .join(spark.table(l_tbl),
                       F.col("o_orderkey") == F.col("l_orderkey")))
        plan2 = join2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2 and "Exchange" not in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_files_collapses_file_count_and_preserves_rows(spark, tmp_path):
    """Compaction rewrites many small files into byte-targeted few, rows
    and values intact; output count tracks actual on-disk bytes."""
    import os
    from flink_realtime_data_eng_spark.operators.bucketing import compact_files
    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.parquet(src)
    n_src = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_src == 40
    back = compact_files(spark, src, dst, target_file_bytes=1 << 30)
    n_dst = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_dst == 1  # total bytes far below one target file
    assert back.count() == 10_000
    assert back.agg({"v": "sum"}).collect()[0][0] == df.agg({"v": "sum"}).collect()[0][0]


def test_dynamic_partition_pruning_fires_on_partitioned_join(spark,
                                                             tmp_path):
    """Runtime partition pruning (DPP): a fact table partitioned by day
    joined to a dim with a selective filter must plan a
    dynamicpruning subquery on the fact scan — at 100 TB this is the
    difference between scanning 3 day-partitions and scanning all of
    them, decided at RUNTIME from the dim side (no literal day predicate
    exists in the query)."""
    from pyspark.sql import functions as F
    from flink_realtime_data_eng_spark.schemas import load_table
    ev = (load_table(spark, "/root/testdata/sf0.001", "events")
          .withColumn("day", F.expr("ts_ms div 86400000").cast("bigint")))
    fact = str(tmp_path / "fact")
    ev.write.mode("overwrite").partitionBy("day").parquet(fact)
    days = [r["day"] for r in ev.select("day").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, "keep" if i < 3 else "drop") for i, d in enumerate(sorted(days))],
        "day bigint, flag string")
    f = spark.read.parquet(fact)
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
                   "true")
    try:
        joined = (f.join(dim.filter(F.col("flag") == "keep"), "day")
                   .groupBy("day").agg(F.count(F.lit(1)).alias("cnt")))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        got = {r["day"] for r in joined.collect()}
        assert got == set(sorted(days)[:3])
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
                       prev)


def test_maxsim_query_sample_is_windowgrouplimit_bounded(spark):
    """x_maxsim_labels' broadcast side must stay FIXED-SIZE at any
    corpus SF (the r7 VERDICT scale-killer): the per-label top-32
    sample has to plan as WindowGroupLimit (partial+final map-side
    top-k — no full per-label sort) and exactly one BroadcastExchange,
    with no corpus-fraction filter feeding it."""
    from flink_realtime_data_eng_spark import registry
    df = registry.x_maxsim_labels(spark, "/root/testdata/sf0.001")
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("WindowGroupLimit") >= 2, plan[:800]  # partial+final
    assert plan.count("BroadcastExchange") == 1, plan[:800]


def test_keyword_persisted_serves_from_pushed_down_index_scan(spark):
    """The persisted-postings serving query must (a) push the term IN
    filter into the parquet scan (PushedFilters/DataFilters on the
    FileScan — the index lookup happens at the storage layer) and (b)
    never read the documents table at query time."""
    from flink_realtime_data_eng_spark import registry
    df = registry.x_keyword_persisted(spark, "/root/testdata/sf0.001")
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and "IN (table,join,window)" in scan[0], scan
    assert "documents.parquet" not in plan
