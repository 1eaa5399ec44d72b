"""Property-based tests (hypothesis): window arithmetic, session islands,
and batch-vs-streaming state machine agreement on random inputs.

Each property drives full Spark plans, so example counts are kept small and
deadlines disabled — the value is randomized coverage of boundary cases
(negative timestamps, collisions, gap-exact spacing), not volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from pyspark.sql import functions as F

from flink_realtime_data_eng_spark.operators import joins, stateful, windows

SLOW = settings(max_examples=8, deadline=None,
                suppress_health_check=list(HealthCheck))

TS = st.integers(min_value=-10_000_000, max_value=10_000_000)


@SLOW
@given(st.lists(TS, min_size=1, max_size=30), st.sampled_from([1000, 5000, 7001]))
def test_window_bucket_matches_spark_window(spark, ts_list, size):
    """joins.window_bucket (integer arithmetic) must agree with F.window's
    epoch alignment for any timestamp sign and any window size."""
    df = spark.createDataFrame([(t,) for t in ts_list], "ts_ms long")
    ours = df.select(F.col("ts_ms"), joins.window_bucket("ts_ms", size))
    spk = df.select(
        F.col("ts_ms"),
        F.unix_millis(F.window(F.timestamp_millis("ts_ms"),
                               f"{size} milliseconds").start).alias("w"))
    got = {r["ts_ms"]: r["window_start_ms"] for r in ours.collect()}
    want = {r["ts_ms"]: r["w"] for r in spk.collect()}
    assert got == want


@SLOW
@given(st.lists(st.tuples(st.sampled_from(["u1", "u2"]), TS),
                min_size=1, max_size=25, unique=True),
       st.sampled_from([1000, 4000]))
def test_session_agg_matches_gaps_and_islands(spark, rows, gap):
    """session_window must agree with the classic lag/running-sum islands
    construction (the DuckDB oracle's shape) for random event sets —
    including events exactly `gap` apart (which MERGE)."""
    df = spark.createDataFrame(rows, "user string, ts_ms long")
    got = sorted(tuple(r) for r in windows.session_agg(
        df, "ts_ms", gap, keys=["user"],
        aggs=[F.count(F.lit(1)).alias("cnt")]).collect())

    from pyspark.sql import Window as W
    w = W.partitionBy("user").orderBy("ts_ms")
    brk = F.when(
        F.lag("ts_ms").over(w).isNull()
        | (F.col("ts_ms") - F.lag("ts_ms").over(w) > gap), 1).otherwise(0)
    grp = df.withColumn("brk", brk).withColumn(
        "grp", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)))
    want = sorted(tuple(r) for r in grp.groupBy("user", "grp")
                  .agg(F.min("ts_ms").alias("session_start_ms"),
                       F.count(F.lit(1)).alias("cnt"))
                  .select("session_start_ms", "user", "cnt").collect())
    assert got == want


@SLOW
@given(st.lists(
    st.tuples(st.sampled_from(["a", "b"]),
              st.integers(min_value=0, max_value=100_000),
              st.sampled_from(["Login", "View", "Buy", "Logout"])),
    min_size=1, max_size=20))
def test_action_durations_batch_reference_model(spark, rows):
    """The batch lag-analog must match a plain-Python replay of the
    reference state machine (CourseUseCase.java:149-175) on random inputs."""
    uniq = [(u, t, i, a) for i, (u, t, a) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "user string, ts_ms long, eid long, action string")
    got = {r["eid"]: (r["prev_action"], r["duration_ms"])
           for r in stateful.action_durations(
               df, key="user", ts_ms="ts_ms", action_col="action",
               session_start="Login", session_end="Logout",
               order_by=["ts_ms", "eid"]).collect()}

    state: dict[str, tuple[str | None, int | None]] = {}
    want = {}
    for u, t, i, a in sorted(uniq, key=lambda r: (r[0], r[1], r[2])):
        last_a, last_t = state.get(u, (None, None))
        if last_a is None or a == "Login":
            want[i] = ("None", 0)
        else:
            want[i] = (last_a, t - last_t)
        state[u] = (None, None) if a == "Logout" else (a, t)
    assert got == want


@SLOW
@given(st.lists(st.tuples(st.sampled_from(["u1", "u2"]), TS),
                min_size=1, max_size=20, unique=True),
       st.lists(st.tuples(st.sampled_from(["u1", "u2"]), TS),
                min_size=1, max_size=20, unique=True),
       st.sampled_from([(-1000, 2000), (0, 5000), (-7000, -1000)]))
def test_interval_join_matches_brute_force(spark, lrows, rrows, bounds):
    """Bucketed interval join must equal the brute-force cross+filter for
    random keys/timestamps and bounds of any sign (incl. fully negative)."""
    lo, hi = bounds
    left = spark.createDataFrame(lrows, "k string, ts_ms long")
    right = spark.createDataFrame(rrows, "k string, ts_ms long")
    got = sorted((r["k"], r["l_ts_ms"], r["r_ts_ms"]) for r in
                 joins.interval_join(left, right, key="k", ts_ms="ts_ms",
                                     lower_ms=lo, upper_ms=hi).collect())
    want = sorted(
        (lk, lt, rt)
        for lk, lt in lrows for rk, rt in rrows
        if lk == rk and lt + lo <= rt <= lt + hi)
    assert got == want


@SLOW
@given(st.lists(st.tuples(st.sampled_from(["u1", "u2"]), TS),
                min_size=1, max_size=15, unique=True),
       st.lists(st.tuples(st.sampled_from(["u1", "u2"]), TS, st.integers(0, 99)),
                min_size=1, max_size=15))
def test_asof_join_matches_reference_model(spark, lrows, rrows):
    """asof_join must equal the per-row 'latest right at-or-before'
    reference model for random data (dedup right to one row per (k, ts) so
    the expected match value is well-defined)."""
    rdedup = {}
    for rk, rt, v in rrows:
        rdedup[(rk, rt)] = max(v, rdedup.get((rk, rt), -1))
    rlist = [(k, t, v) for (k, t), v in rdedup.items()]
    left = spark.createDataFrame(lrows, "k string, ts_ms long")
    right = spark.createDataFrame(rlist, "k string, ts_ms long, v long")
    got = {(r["k"], r["ts_ms"]): (r["v"], r["matched_ts_ms"]) for r in
           joins.asof_join(left, right, key="k", ts_ms="ts_ms",
                           value_cols=["v"]).collect()}
    want = {}
    for lk, lt in lrows:
        prior = [(t, v) for k, t, v in rlist if k == lk and t <= lt]
        if prior:
            mt, mv = max(prior)
            want[(lk, lt)] = (mv, mt)
    assert got == want


@SLOW
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                max_size=8),
       st.sampled_from([(4, 0), (4, 2), (7, 3)]))
def test_chunk_documents_tiling_invariants(spark, doc_lens, cs_ov):
    """For any corpus and any (chunk_size, overlap): chunk starts advance
    by exactly the stride, every token index is covered, consecutive
    chunks overlap by exactly `overlap` (when a successor exists), and
    token mass satisfies sum(len) == n + overlap * (chunks - 1) for docs
    whose last chunk isn't the lone first (general identity below)."""
    from flink_realtime_data_eng_spark.functions import packing
    chunk_size, overlap = cs_ov
    stride = chunk_size - overlap
    rows = [(i, " ".join(f"t{j}" for j in range(L)))
            for i, L in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = packing.chunk_documents(df, chunk_size, overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_len"]))
    assert set(by_doc) == set(range(len(doc_lens)))  # no doc vanishes
    for doc_id, chunks in by_doc.items():
        n = doc_lens[doc_id]
        chunks.sort()
        # contiguous indices, stride-spaced starts
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        assert all(c[1] == c[0] * stride for c in chunks)
        # coverage: union of [start, start+len) == [0, n)
        covered = set()
        for _, s, ln in chunks:
            covered |= set(range(s, s + ln))
        assert covered == set(range(n))
        # each chunk is exactly the slice [start, min(start+size, n))
        assert all(ln == min(chunk_size, n - s) for _, s, ln in chunks)


@SLOW
@given(st.lists(st.sampled_from(["a b c d e", "a b c d e f",
                                 "x y z w v u t s"]),
                min_size=2, max_size=6))
def test_repeated_spans_matches_bruteforce(spark, texts):
    """repeated_spans must equal the brute-force python computation of
    'n-gram sets shared by >= 2 docs' on any tiny corpus."""
    import hashlib
    from flink_realtime_data_eng_spark.functions import dedup
    n = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["span_fp"], r["n_docs"])
           for r in dedup.repeated_spans(df, n=n, min_docs=2).collect()}
    by_span: dict[str, set[int]] = {}
    for i, t in rows:
        w = t.split()
        for j in range(len(w) - n + 1):
            span = " ".join(w[j:j + n])
            by_span.setdefault(span, set()).add(i)
    want = {(hashlib.md5(s.encode()).hexdigest(), len(ids))
            for s, ids in by_span.items() if len(ids) >= 2}
    assert got == want


@SLOW
@given(st.lists(st.tuples(st.integers(0, 5000), st.integers(0, 5000)),
                min_size=1, max_size=40, unique=True))
def test_morton_code_is_bijective_on_low_bits(spark, pairs):
    """morton_code must uniquely encode (a mod 2^bits, b mod 2^bits): two
    pairs collide iff their low bits agree — interleaving loses nothing."""
    from flink_realtime_data_eng_spark.operators.bucketing import morton_code
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {(r["a"], r["b"]): r["z"] for r in
           df.select("a", "b", morton_code("a", "b", bits=8).alias("z"))
           .collect()}

    def ref(a, b):
        z = 0
        for j in range(8):
            z |= ((a >> j) & 1) << (2 * j)
            z |= ((b >> j) & 1) << (2 * j + 1)
        return z
    for (a, b), z in got.items():
        assert z == ref(a % 256, b % 256), (a, b, z)


@SLOW
@given(st.lists(st.integers(0, 1000), min_size=1, max_size=60),
       st.sampled_from([1, 3, 8]))
def test_global_prefix_sum_matches_sequential(spark, values, nr):
    from flink_realtime_data_eng_spark.operators.stats import global_prefix_sum
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r["k"]: r["running_total"] for r in
           global_prefix_sum(df, "v", "k", num_ranges=nr).collect()}
    acc = 0
    for i, v in enumerate(values):
        acc += v
        assert got[i] == acc, (i, got[i], acc)


def test_affine_minhash_family_is_deterministic_and_bijective():
    """affine_consts: a odd (bijection mod 2^32), below 2^31 (overflow
    safety), stable across calls (the oracle embeds them as literals)."""
    from flink_realtime_data_eng_spark.functions.dedup import affine_consts
    c1, c2 = affine_consts(16), affine_consts(16)
    assert c1 == c2 and len(set(c1)) == 16
    for a, b in c1:
        assert a % 2 == 1 and 0 < a < 2**31 and 0 <= b < 2**32
        # bijection: a odd => gcd(a, 2^32) == 1
        import math
        assert math.gcd(a, 2**32) == 1


@SLOW
@given(st.lists(st.integers(min_value=0, max_value=10**9),
                min_size=1, max_size=40),
       st.lists(st.integers(min_value=0, max_value=10**9),
                min_size=1, max_size=40))
def test_bloom_semi_join_always_exact(spark, build_keys, probe_keys):
    """For ANY key sets, the bloom-accelerated semi-join must equal the
    plain semi-join — false positives are always cleared, true members
    never lost (even with a deliberately tiny, collision-heavy bitmap)."""
    from flink_realtime_data_eng_spark.functions import sketches
    dim = spark.createDataFrame([(k,) for k in set(build_keys)], "dk long")
    fact = spark.createDataFrame([(k, i) for i, k in enumerate(probe_keys)],
                                 "fk long, v long")
    got = sorted(r["v"] for r in sketches.bloom_semi_join(
        fact, dim, "fk", "dk", num_bits=64, num_hashes=2).collect())
    want = sorted(r["v"] for r in
                  fact.join(dim, fact["fk"] == dim["dk"], "left_semi")
                      .collect())
    assert got == want


@SLOW
@given(st.lists(st.integers(min_value=0, max_value=30),
                min_size=1, max_size=120))
def test_cms_upper_bounds_every_count(spark, values):
    """CMS estimates dominate exact counts for every present value, on any
    multiset, even with a tiny (heavy-collision) sketch."""
    from flink_realtime_data_eng_spark.functions import sketches
    df = spark.createDataFrame([(v,) for v in values], "v long")
    sk = sketches.cms_sketch(df, "v", depth=3, width=8)
    est = {r["v"]: r["cms_est"] for r in sketches.cms_estimate(
        df.distinct(), "v", sk, depth=3, width=8).collect()}
    from collections import Counter
    exact = Counter(values)
    assert all(est[v] >= n for v, n in exact.items())


@SLOW
@given(st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=80),
       st.integers(min_value=1, max_value=20))
def test_heavy_hitters_equals_exact_filter(spark, toks, threshold):
    """heavy_hitters must equal the exact groupBy+HAVING for any input and
    threshold, regardless of partitioning."""
    from collections import Counter
    from flink_realtime_data_eng_spark.functions import sketches
    df = spark.createDataFrame([(t,) for t in toks], "tok string") \
              .repartition(3)
    got = {(r["tok"], r["n"]) for r in
           sketches.heavy_hitters(df, "tok", threshold).collect()}
    want = {(t, n) for t, n in Counter(toks).items() if n >= threshold}
    assert got == want


@SLOW
@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=20),
                min_size=1, max_size=10),
       st.integers(min_value=1, max_value=4))
def test_paragraph_dedup_reconstruction_invariants(spark, texts, k):
    """For any corpus: (1) a chunk string appears in at most one doc's
    output; (2) every output doc's text is a subsequence of its input
    chunks; (3) n_kept sums to the number of DISTINCT chunks."""
    from flink_realtime_data_eng_spark.functions.dedup import paragraph_dedup
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    out = paragraph_dedup(docs, chunk_tokens=k).collect()
    # recompute chunks the same way to count distinct
    def chunks(t):
        toks = t.split(" ")
        return [" ".join(toks[i:i + k]) for i in range(0, len(toks), k)]
    all_chunks = [c for t in texts for c in chunks(t)]
    n_distinct = len(set(all_chunks))
    assert sum(r["n_kept"] for r in out) == n_distinct
    seen: set[str] = set()
    for r in sorted(out, key=lambda r: r["doc_id"]):
        kept = chunks(r["text_dedup"]) if r["text_dedup"] != "" else []
        # kept chunks must come from this doc's own chunk list, in order
        own = chunks(texts[r["doc_id"]])
        it = iter(own)
        assert all(c in it for c in kept)  # subsequence check
        assert not (set(kept) & seen)
        seen |= set(kept)


@SLOW
@given(st.lists(st.tuples(st.sampled_from(["u1", "u2"]),
                          st.integers(min_value=0, max_value=1000),
                          st.sampled_from(["a", "b", "c"])),
                min_size=1, max_size=40))
def test_scd2_intervals_tile_the_timeline(spark, rows):
    """SCD2 invariants on any event log: per key, intervals are disjoint,
    contiguous (each valid_to equals the next valid_from), exactly one
    is_current (valid_to NULL), and consecutive intervals change value."""
    from flink_realtime_data_eng_spark.operators import funnel
    uniq = [(u, t, i, a) for i, (u, t, a) in enumerate(rows)]
    df = spark.createDataFrame(
        uniq, "user_id string, ts_ms long, event_id long, event_type string")
    out = funnel.scd2_intervals(df).collect()
    by_key: dict[str, list] = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append(r)
    for _, ivs in by_key.items():
        ivs.sort(key=lambda r: r["valid_from_ms"])
        assert sum(r["valid_to_ms"] is None for r in ivs) == 1
        assert ivs[-1]["is_current"]
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"]
            assert a["event_type"] != b["event_type"]


@SLOW
@given(st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
       st.sampled_from([1, 3, 8]), st.booleans())
def test_global_prefix_max_matches_sequential(spark, values, nr, inclusive):
    """Two-phase prefix max must equal the sequential running max in both
    inclusive and strict modes, for any range-partition count."""
    from flink_realtime_data_eng_spark.operators.stats import global_prefix_max
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r["k"]: r["running_max"] for r in
           global_prefix_max(df, "v", "k", inclusive=inclusive,
                             num_ranges=nr).collect()}
    run = None
    for i, v in enumerate(values):
        want = (max(run, v) if run is not None else v) if inclusive else run
        assert got[i] == want, (i, got[i], want)
        run = max(run, v) if run is not None else v


@given(texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30),
                      min_size=1, max_size=8))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dup_ngram_fraction_matches_bruteforce(spark, texts):
    """dup_frac equals the brute-force fraction of a doc's distinct
    n-gram set shared with >=1 other doc (normalization included)."""
    import re
    from flink_realtime_data_eng_spark.functions import dedup as dd
    n = 2
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dd.dup_ngram_fraction(df, n=n, max_frac=0.5).collect()}

    def norm_toks(t):
        t = re.sub(r"[^a-z0-9 ]", "", t.lower())
        t = re.sub(r" +", " ", t).strip()
        return [w for w in t.split(" ") if w] if t else []

    spans = {i: {" ".join(norm_toks(t)[j:j + n])
                 for j in range(len(norm_toks(t)) - n + 1)}
             for i, t in rows}
    for i, _ in rows:
        mine = spans[i]
        dup = {s for s in mine
               if any(s in spans[j] for j, _ in rows if j != i)}
        assert got[i]["n_spans"] == len(mine)
        assert got[i]["n_dup_spans"] == len(dup)


@given(edges=st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=10))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pagerank_matches_sequential_recurrence(spark, edges):
    """The distributed integer PageRank equals a sequential Python replica
    on arbitrary small graphs (mass conservation is inexact under floor
    division, but determinism must be exact)."""
    from flink_realtime_data_eng_spark.functions.graph import pagerank
    uniq = sorted({(min(a, b), max(a, b)) for a, b in edges})
    df = spark.createDataFrame(uniq, "id_a long, id_b long")
    got = {r["node"]: r["rank_i9"]
           for r in pagerank(df, iterations=3).collect()}
    sym = sorted({(a, b) for a, b in uniq} | {(b, a) for a, b in uniq})
    deg: dict[int, int] = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    s = {n: 10 ** 9 for n in deg}
    for _ in range(3):
        inc = {n: 0 for n in deg}
        for a, b in sym:
            inc[b] += s[a] // deg[a]
        s = {n: 150000000 + (17 * inc[n]) // 20 for n in deg}
    assert got == s


@given(vecs=st.lists(
    st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False,
                       width=32), min_size=4, max_size=4),
    min_size=2, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_semdedup_keep_invariants(spark, vecs):
    """Keep-list invariants on arbitrary vectors: output ids are a subset
    of input ids; every input id is kept or was dropped in favor of a
    kept LOWER id (canonical-per-cluster policy); canonical flags only on
    kept rows."""
    from flink_realtime_data_eng_spark.functions.similarity import (
        semdedup_keep)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["is_canonical"]
           for r in semdedup_keep(df, threshold=0.9, num_planes=2).collect()}
    ids = {i for i, _ in rows}
    assert set(out) <= ids
    dropped = ids - set(out)
    # every dropped id must have a kept id below it (its cluster anchor)
    for d in dropped:
        assert any(k < d for k in out)
    # anchors are kept by definition
    assert all(isinstance(v, bool) for v in out.values())


@given(ticks=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10_000),
              st.integers(0, 99)),
    min_size=1, max_size=40))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ohlc_matches_python_replica(spark, ticks):
    """OHLC via min_by/max_by on the composite tick key equals a
    sequential replica for arbitrary (possibly tying) timestamps."""
    from pyspark.sql import functions as SF
    rows = [(k, ts, i, v) for i, (k, ts, v) in enumerate(ticks)]
    df = spark.createDataFrame(
        rows, "k long, ts_ms long, event_id long, v long")
    e = df.withColumn("tick", (SF.col("ts_ms") * 1_000_000
                               + SF.col("event_id")).cast("bigint"))
    got = {(r["k"],): (r["o"], r["h"], r["l"], r["c"], r["n"])
           for r in e.groupBy("k")
           .agg(SF.min_by("v", "tick").alias("o"),
                SF.max("v").alias("h"), SF.min("v").alias("l"),
                SF.max_by("v", "tick").alias("c"),
                SF.count(SF.lit(1)).alias("n")).collect()}
    ref: dict = {}
    for k, ts, i, v in rows:
        cur = ref.setdefault(k, {"first": None, "last": None, "h": v,
                                 "l": v, "n": 0})
        key = ts * 1_000_000 + i
        if cur["first"] is None or key < cur["first"][0]:
            cur["first"] = (key, v)
        if cur["last"] is None or key > cur["last"][0]:
            cur["last"] = (key, v)
        cur["h"] = max(cur["h"], v)
        cur["l"] = min(cur["l"], v)
        cur["n"] += 1
    want = {(k,): (c["first"][1], c["h"], c["l"], c["last"][1], c["n"])
            for k, c in ref.items()}
    assert got == want


_WORDS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
             min_size=0, max_size=12).map(" ".join),
    min_size=2, max_size=8)


@pytest.mark.parametrize("path", ["one_task", "distributed"])
@SLOW
@given(texts=_WORDS, threshold=st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_filter_is_lossless_on_random_corpora(spark, monkeypatch, path,
                                                     texts, threshold):
    """The SSJoin/PPJoin prefix rule must be COMPLETE on both paths:
    candidate-gated Jaccard equals the full self-join at any threshold, on
    corpora built from a tiny vocabulary (maximal shingle collisions — the
    adversarial case for prefix selection and frequency ties)."""
    from flink_realtime_data_eng_spark.functions import dedup
    if path == "distributed":
        monkeypatch.setattr(dedup, "_PREFIX_ONE_TASK_ROWS", -1)
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    full = {tuple(r) for r in
            dedup.jaccard_pairs(df, n=2, threshold=threshold).collect()}
    pref = {tuple(r) for r in
            dedup.prefix_filter_pairs(df, n=2,
                                      threshold=threshold).collect()}
    assert pref == full


_EDGES = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda e: e[0] != e[1]),
    min_size=1, max_size=25)


@SLOW
@given(edges=_EDGES, k=st.sampled_from([2, 3]))
def test_kcore_matches_sequential_peel(spark, edges, k):
    """Fixed-round distributed peeling must agree with the sequential
    reference algorithm once both reach the fixpoint (10 nodes peel in
    well under the 10 rounds given)."""
    from flink_realtime_data_eng_spark.functions.graph import kcore
    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    # sequential peel to fixpoint
    cur = set(sym)
    while True:
        deg = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in alive and b in alive}
        if nxt == cur:
            break
        cur = nxt
    want = {}
    for a, _ in cur:
        want[a] = want.get(a, 0) + 1
    df = spark.createDataFrame(sorted({tuple(sorted(e)) for e in edges}),
                               "id_a long, id_b long")
    got = {r.node: r.deg for r in kcore(df, k=k, rounds=10).collect()}
    assert got == want


_VALS = st.lists(
    st.tuples(st.integers(0, 2),                  # group
              st.sampled_from([0.0, 1.5, 2.25, 7.0, 7.0, 9.5])),
    min_size=1, max_size=30)


@SLOW
@given(rows=_VALS)
def test_rank_normalize_matches_builtin_percent_rank(spark, rows):
    """The distinct-value decomposition must equal Spark's builtin
    percent_rank on any frame, including heavy ties and 1-row groups."""
    from pyspark.sql import Window as W
    from flink_realtime_data_eng_spark.operators import stats
    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "event_id long, g long, value double")
    got = {r.event_id: r.pct6 for r in
           stats.rank_normalize(df, "g", "value").collect()}
    w = W.partitionBy("g").orderBy("value")
    want = {r.event_id: round(r.pr, 6) for r in
            df.select("event_id", F.percent_rank().over(w).alias("pr"))
              .collect()}
    assert got == want


_DOC_TEXTS = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=24),
    min_size=1, max_size=20)


@SLOW
@given(texts=_DOC_TEXTS, k=st.integers(1, 4))
def test_domain_caps_keeps_topk_per_source(spark, texts, k):
    """The per-source quality cap must keep exactly min(k, |source|)
    docs per source, with contiguous ranks 1..n descending on the
    shared exact-integer quality key (doc_id tie-breaks)."""
    from flink_realtime_data_eng_spark.functions import text as textmod
    df = spark.createDataFrame(
        [(i, t, f"s{i % 3}") for i, t in enumerate(texts)],
        "doc_id long, text string, source string")
    out = textmod.domain_caps(df, k=k).collect()
    by_src: dict = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    sizes = {f"s{i % 3}" for i in range(len(texts))}
    assert set(by_src) == sizes
    full = {r.doc_id: (r.qkey_milli, r.doc_id) for r in
            textmod.domain_caps(df, k=10**6).collect()}
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        n_src = sum(1 for i in range(len(texts)) if f"s{i % 3}" == src)
        assert len(rows) == min(k, n_src)
        # kept set == top-k of the full ranking for that source
        want = sorted((d for d in full if d % 3 == int(src[1:])),
                      key=lambda d: (-full[d][0], d))[:k]
        assert [r.doc_id for r in rows] == want


_AUC_ROWS = st.lists(
    st.tuples(st.integers(0, 1),                  # group
              st.booleans(),                      # label
              st.integers(-3, 3)),                # score (heavy ties)
    min_size=1, max_size=40)


@SLOW
@given(rows=_AUC_ROWS)
# 2U/(2PN) = 49/128 = 0.3828125 sits exactly on a 6-decimal tie: SQL
# round() goes half-up to 0.382813 where Python's round() would give
# 0.382812, so the oracle rounds the exact ratio half-up.
@example(rows=[(1, False, 0)] * 7 + [(1, False, 1)]
         + [(1, True, 0)] * 7 + [(1, True, -1)])
def test_roc_auc_matches_pairwise_definition(spark, rows):
    """The rank-sum decomposition must equal the O(n²) definition
    AUC = (#(pos>neg) + ½#(ties)) / (P·N) on any frame, ties included;
    auc6 is that exact ratio rounded half-up (SQL round) to 6 places."""
    from fractions import Fraction
    import math
    from flink_realtime_data_eng_spark.operators import stats
    df = spark.createDataFrame(
        [(f"g{g}", y, s) for g, y, s in rows],
        "source string, keep boolean, score long")
    got = {r.source: (r.n_pos, r.n_neg, r.u2, r.auc6) for r in
           stats.roc_auc(df, label="keep", score="score",
                         group="source").collect()}
    groups = {f"g{g}" for g, _, _ in rows}
    assert set(got) == groups
    for src in groups:
        pos = [s for g, y, s in rows if f"g{g}" == src and y]
        neg = [s for g, y, s in rows if f"g{g}" == src and not y]
        u2 = sum(2 for p in pos for q in neg if p > q) \
            + sum(1 for p in pos for q in neg if p == q)
        n_pos, n_neg, got_u2, auc6 = got[src]
        assert (n_pos, n_neg, got_u2) == (len(pos), len(neg), u2)
        if pos and neg:
            exact = Fraction(u2, 2 * len(pos) * len(neg))
            assert auc6 == math.floor(exact * 10**6 + Fraction(1, 2)) / 10**6
        else:
            assert auc6 is None


_RANKINGS = st.lists(
    st.tuples(st.integers(0, 1),                  # query
              st.permutations(list(range(6)))),   # system order of ids
    min_size=1, max_size=4, unique_by=lambda t: t[0])


@SLOW
@given(rankings=_RANKINGS, k=st.integers(1, 5))
def test_ranking_metrics_matches_python_replica(spark, rankings, k):
    """hits/MRR/nDCG against a sequential replica: ideal = ids in
    ascending order (rank = id+1), system = the drawn permutation."""
    import math
    from flink_realtime_data_eng_spark.functions import similarity
    sys_rows = [(q, doc, p + 1) for q, perm in rankings
                for p, doc in enumerate(perm)]
    ideal_rows = [(q, doc, doc + 1) for q, _ in rankings
                  for doc in range(min(k, 6))]
    sys_df = spark.createDataFrame(
        sys_rows, "query_id long, vec_id long, rk long")
    ideal_df = spark.createDataFrame(
        ideal_rows, "query_id long, vec_id long, rk long")
    out = {r.query_id: r for r in
           similarity.ranking_metrics(sys_df, ideal_df, k=k).collect()}
    for q, perm in rankings:
        rel = {doc: k + 1 - (doc + 1) for doc in range(min(k, 6))}
        sys_k = perm[:k]
        hits = [p + 1 for p, doc in enumerate(sys_k) if rel.get(doc, 0) > 0]
        dcg = sum(round(rel[doc] * 1e9 / math.log2(p + 2))
                  for p, doc in enumerate(sys_k) if rel.get(doc, 0) > 0)
        idcg = sum(round((k + 1 - (doc + 1)) * 1e9 / math.log2(doc + 2))
                   for doc in range(min(k, 6)))
        r = out[q]
        assert r.n_ideal == min(k, 6)
        assert r.n_hits == len(hits)
        assert r.mrr6 == (round(1 / hits[0], 6) if hits else 0.0)
        assert r.ndcg6 == (round(dcg / idcg, 6) if idcg > 0 else 0.0)


_MIX_SRC = st.lists(st.integers(0, 30),            # docs' token counts
                    min_size=1, max_size=30)


@SLOW
@given(toks=_MIX_SRC, budget=st.integers(0, 400),
       rounds=st.integers(1, 3))
def test_mixture_allocation_matches_sequential_waterfill(
        spark, toks, budget, rounds):
    """The unrolled window water-fill must equal a sequential replica:
    never exceeds a source's cap, never over-spends the budget, and
    redistributes saturated shares with floored integer division."""
    from flink_realtime_data_eng_spark.functions import packing
    rows = [(i, " ".join(["tok"] * n), f"s{i % 4}")
            for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: (r.avail_tokens, r.cap_tokens, r.alloc_tokens,
                      r.saturated) for r in
           packing.mixture_allocation(df, budget_tokens=budget,
                                      epochs_cap=4, rounds=rounds)
           .collect()}
    avail = {}
    for i, n in enumerate(toks):
        avail[f"s{i % 4}"] = avail.get(f"s{i % 4}", 0) + n
    alloc = {s: 0 for s in avail}
    cap = {s: 4 * a for s, a in avail.items()}
    for _ in range(rounds):
        rem = budget - sum(alloc.values())
        unsat = [s for s in alloc if alloc[s] < cap[s]]
        if unsat:
            for s in unsat:
                alloc[s] += min(cap[s] - alloc[s], rem // len(unsat))
    for s in avail:
        assert got[s] == (avail[s], cap[s], alloc[s], alloc[s] >= cap[s])
    assert sum(a for _, _, a, _ in got.values()) <= max(budget, 0)


_OLS_ROWS = st.lists(
    st.tuples(st.integers(0, 1),                  # group
              st.integers(0, 29),                 # x (day index)
              st.integers(-1000, 1000)),          # y (e3 units)
    min_size=1, max_size=30)


@SLOW
@given(rows=_OLS_ROWS)
def test_ols_trend_matches_closed_form(spark, rows):
    """Slope/intercept/R² must match the closed-form normal equations on
    exact integer sums (within the 6-dp rounding the operator applies);
    constant-x and constant-y groups degrade to 0 without dividing."""
    from flink_realtime_data_eng_spark.operators import stats
    df = spark.createDataFrame(
        [(f"g{g}", x, y) for g, x, y in rows],
        "event_type string, x long, y long")
    got = {r.event_type: r for r in
           stats.ols_trend(df, "event_type", "x", "y").collect()}
    for gname in {f"g{g}" for g, _, _ in rows}:
        xs = [x for g, x, _ in rows if f"g{g}" == gname]
        ys = [y for g, _, y in rows if f"g{g}" == gname]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        den = n * sxx - sx * sx
        deny = n * syy - sy * sy
        num = n * sxy - sx * sy
        slope = num / den if den > 0 else 0.0
        r = got[gname]
        assert r.n == n
        assert abs(r.slope6 - slope) <= 1e-6
        assert abs(r.intercept6 - (sy - slope * sx) / n) <= 1e-6
        want_r2 = num * num / (den * deny) if den > 0 and deny > 0 else 0.0
        assert abs(r.r2_6 - want_r2) <= 1e-6


_BOOT_VALS = st.lists(st.integers(0, 100), min_size=1, max_size=25)


@SLOW
@given(vals=_BOOT_VALS)
def test_bootstrap_ci_matches_sequential_replica(spark, vals):
    """The hash-Poisson bootstrap must equal a sequential replica drawing
    the same md5 weights: identical replica means and order statistics."""
    import hashlib
    from flink_realtime_data_eng_spark.operators import stats
    from flink_realtime_data_eng_spark.operators.stats import _POISSON1_T
    df = spark.createDataFrame(
        [("s", i, v * 1_000_000) for i, v in enumerate(vals)],
        "source string, doc_id long, y long")
    got = stats.bootstrap_ci(df, value="y", group="source",
                             id_col="doc_id", replicas=32).collect()[0]
    t0, t1, t2, t3 = _POISSON1_T

    def weight(b, i):
        h = int(hashlib.md5(f"boot{b}:{i}".encode()).hexdigest()[:8], 16)
        return 0 if h < t0 else 1 if h < t1 else 2 if h < t2 \
            else 3 if h < t3 else 4

    means = []
    for b in range(32):
        ws = [weight(b, i) for i in range(len(vals))]
        tot = sum(ws)
        means.append(sum(w * v * 1_000_000 for w, v in zip(ws, vals)) // tot
                     if tot > 0 else 0)
    means.sort()
    assert got.n == len(vals)
    assert got.mean_e6 == sum(v * 1_000_000 for v in vals) // len(vals)
    assert got.boot_lo_e6 == means[1]
    assert got.boot_hi_e6 == means[30]


@SLOW
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=9),
                          st.integers(min_value=0, max_value=9)),
                min_size=1, max_size=20),
       st.sets(st.integers(min_value=0, max_value=9), min_size=1,
               max_size=3),
       st.integers(min_value=1, max_value=4))
def test_bfs_hops_matches_reference_bfs(spark, edge_list, seed_set, rounds):
    """graph.bfs_hops must equal a plain Python level-order BFS on any
    small random graph: same reachable set within the round budget, same
    minimum hop per node (self-loops, parallel edges, seeds absent from
    the graph, and disconnected nodes included)."""
    from flink_realtime_data_eng_spark.functions.graph import bfs_hops
    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {s: 0 for s in seed_set}
    frontier = set(seed_set)
    for hop in range(1, rounds + 1):
        frontier = {v for u in frontier for v in adj.get(u, ())
                    if v not in expect}
        for v in frontier:
            expect[v] = hop
    edges = spark.createDataFrame(edge_list, "id_a bigint, id_b bigint")
    seeds = spark.createDataFrame([(s,) for s in seed_set], "node bigint")
    got = {r["node"]: r["hop"]
           for r in bfs_hops(edges, seeds, rounds=rounds).collect()}
    assert got == expect


def test_order_runs_invariants(spark):
    """Run-length accounting closes exactly: every doc either starts a
    run or extends one (n_runs + n_same_adj == n_docs per source), the
    per-source totals cover the corpus, and a run is at least 1 long."""
    from flink_realtime_data_eng_spark import registry
    rows = registry.x_order_runs(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no sources"
    for r in rows:
        assert r["n_runs"] + r["n_same_adj"] == r["n_docs"], dict(r.asDict())
        assert 1 <= r["max_run"] <= r["n_docs"]
    docs = registry._docs(spark, "/root/testdata/sf0.001")
    assert sum(r["n_docs"] for r in rows) == docs.count()


def test_split_leakage_edge_accounting(spark):
    """Every verified near-dup edge lands in exactly one split-pair
    bucket, and buckets only ever name the three split labels."""
    from flink_realtime_data_eng_spark import registry
    sf = "/root/testdata/sf0.001"
    rows = registry.x_split_leakage(spark, sf).collect()
    n_edges_total = registry._edges(spark, sf).count()
    assert sum(r["n_edges"] for r in rows) == n_edges_total
    labels = {"train", "val", "test"}
    for r in rows:
        assert r["split_lo"] in labels and r["split_hi"] in labels
        assert r["split_lo"] <= r["split_hi"]
        # an edge has 2 endpoints; distinct docs can't exceed 2x edges
        assert 1 <= r["n_docs"] <= 2 * r["n_edges"]


def test_token_budget_select_matches_sequential_greedy(spark):
    """token_budget_select's two-tier prefix sum must equal the
    sequential greedy: order docs by (quality key desc, id), take while
    cumulative tokens <= budget."""
    from flink_realtime_data_eng_spark.functions import packing, text

    rows = [(i, f"s{i % 3}",
             " ".join(f"w{(i * 7 + j) % 11}" for j in range(3 + (i % 9))))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    scored = (text.unigram_logprob(df).filter("n_tokens > 0")
              .withColumn("qkey_milli", text._quality_key())
              .collect())
    docs = sorted(scored, key=lambda r: (-r["qkey_milli"], r["doc_id"]))
    budget = sum(r["n_tokens"] for r in docs) * 50 // 100
    # the operator's rule is cum<=B over the FULL quality order (a prefix
    # of the running sum), replayed sequentially here
    cum, sel = 0, set()
    for r in docs:
        cum += r["n_tokens"]
        if cum <= budget:
            sel.add(r["doc_id"])
    src_of = {r["doc_id"]: r["source"] for r in df.collect()}
    ntok = {r["doc_id"]: r["n_tokens"] for r in scored}
    by_src: dict[str, list[int]] = {}
    for d in sel:
        agg = by_src.setdefault(src_of[d], [0, 0])
        agg[0] += 1
        agg[1] += ntok[d]
    out = {r["source"]: (r["docs_sel"], r["tokens_sel"])
           for r in packing.token_budget_select(df, budget_pct=50).collect()}
    assert out == {s: tuple(v) for s, v in by_src.items()}


def test_curriculum_order_matches_global_sort(spark):
    """curriculum_order's two-tier (band offset + within-band row_number)
    rank must equal a plain global row_number over (quality key desc,
    id), with empty/NULL-text docs ranked last by id and equal-count
    phases."""
    from flink_realtime_data_eng_spark.functions import packing, text

    rows = [(i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(3 + (i % 9))))
            for i in range(28)] + [(28, ""), (29, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    scored = (text.unigram_logprob(df)
              .withColumn("qkey_milli", text._quality_key())
              .collect())
    order = sorted(scored, key=lambda r: (-r["qkey_milli"], r["doc_id"]))
    want_rank = {r["doc_id"]: i + 1 for i, r in enumerate(order)}
    n = len(rows)
    got = {r["doc_id"]: (r["rank"], r["phase"])
           for r in packing.curriculum_order(df, n_phases=3).collect()}
    assert len(got) == n
    for doc, (rank, phase) in got.items():
        assert rank == want_rank[doc]
        assert phase == 1 + ((rank - 1) * 3) // n
    # empty-text docs rank last, by id
    assert got[28][0] == n - 1 and got[29][0] == n
    # phases are equal-count
    from collections import Counter
    sizes = Counter(p for _, p in got.values())
    assert sorted(sizes) == [1, 2, 3] and max(sizes.values()) - min(sizes.values()) <= 1
