"""Dedup family on tiny in-memory corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_realtime_data_eng_spark.functions import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalizes(spark):
    # Case, punctuation, and whitespace differences are the SAME content.
    df = _docs(spark, [(1, "Hello, World!"), (2, "hello   world"),
                       (3, "HELLO WORLD."), (4, "goodbye world")])
    out = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 3, 4: 1}


def test_shingles_short_doc_yields_none(spark):
    df = _docs(spark, [(1, "one two"), (2, "one two three four")])
    sh = dedup.shingles(df, n=3)
    got = sorted((r["doc_id"], r["shingle"]) for r in sh.collect())
    assert got == [(2, "one two three"), (2, "two three four")]


def test_jaccard_pairs_exact_value(spark):
    # doc1 shingles: {a b c, b c d}; doc2: {a b c, b c x}
    # intersection 1, union 3 -> jaccard 1/3.
    df = _docs(spark, [(1, "a b c d"), (2, "a b c x")])
    out = dedup.jaccard_pairs(df, n=3, threshold=0.1)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["jaccard"] == pytest.approx(1 / 3, abs=1e-6)


def test_minhash_lsh_identical_docs_share_all_bands(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps over the lazy dog"),
                       (2, "the quick brown fox jumps over the lazy dog"),
                       (3, "a completely different sentence about spark engines")])
    out = dedup.minhash_lsh_candidates(df, num_hashes=16, bands=4, n=3)
    got = {(r["id_a"], r["id_b"]): r["n_shared_bands"] for r in out.collect()}
    assert got.get((1, 2)) == 4  # identical -> identical signature -> all bands
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_identical_for_same_tokens_and_bits_validated(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
                       (3, "delta epsilon zeta")])
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    with pytest.raises(ValueError):
        dedup.simhash(df, bits=61)
    # 33..60 draws from the 60-bit hash: signatures can exceed 32 bits
    wide = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash(df, bits=60).collect()}
    assert wide[1] == wide[2] and wide[1] != wide[3]
    assert all(0 <= s < (1 << 60) for s in wide.values())


def test_neardup_pipeline_candidates_verified(spark):
    df = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "the quick brown fox jumps over the lazy cat tonight"),
        (4, "completely unrelated text about distributed query engines"),
    ])
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.neardup_pipeline(df, threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0            # exact dup: jaccard 1
    assert (1, 4) not in out and (2, 4) not in out and (3, 4) not in out
    # every surviving pair's jaccard equals the unguarded exact computation
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(df, threshold=0.5).collect()}
    for pair, j in out.items():
        assert exact[pair] == j


def test_connected_components_basic(spark):
    from flink_realtime_data_eng_spark.functions.graph import connected_components
    # two components: chain 1-2-3-4 and pair 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "id_a long, id_b long")
    got = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _on_path(monkeypatch, path, sym_rows):
    """Route graph fixpoints over a ``sym_rows``-row symmetric edge frame to
    ``path``: 'one_task' is the default for any small graph; 'loop' lowers
    the one-task bound so the distributed loop runs at width 3 (a bound of
    1 would mean one partition per row)."""
    from flink_realtime_data_eng_spark.functions import graph
    if path == "loop":
        monkeypatch.setattr(graph, "_FIXPOINT_ROWS_PER_PARTITION",
                            max(1, sym_rows // 3))


def _cc_reference(pairs):
    """Minimum node reachable from every node; NULL endpoints ignored."""
    adj = {}
    for a, b in pairs:
        if a is not None and b is not None:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        comp, todo = {start}, [start]
        while todo:
            for u in adj[todo.pop()] - comp:
                comp.add(u)
                todo.append(u)
        out.update(dict.fromkeys(comp, min(comp)))
    return out


def _random_pairs():
    """Seeded ~degree-2 graph: a mix of chains, cycles and singleton pairs."""
    import random
    rng = random.Random(42)
    pairs = [(rng.randrange(500), rng.randrange(500)) for _ in range(600)]
    return [(a, b) for a, b in pairs if a != b]


_CC_CASES = {
    "random": ("long", _random_pairs()),
    # diameter 19, near the default max_iter=25
    "chain20": ("long", [(i + 1, i) for i in range(19)]),
    # Spark orders strings by UTF-8 bytes, pandas by code point: the same
    # order, even where UTF-16 (Java's String order) disagrees —
    # U+FF5A 'ｚ' < U+1D538 '𝔸'.
    "strings": ("string", [("b", "B"), ("B", "é"), ("é", "Zoë"),
                           ("ä", "a"), ("𝔸", "ｚ"), ("ß", "Ω"),
                           ("Ω", "ω"), (None, "q"), ("q", "Q")]),
    "empty": ("long", []),
}


@pytest.mark.parametrize("case", sorted(_CC_CASES))
@pytest.mark.parametrize("path", ["one_task", "loop"])
def test_connected_components_paths_match_reference(spark, monkeypatch,
                                                    path, case):
    """The one-task kernel and the distributed loop give the same labels
    as a plain-Python reference, on every input shape."""
    from flink_realtime_data_eng_spark.functions.graph import connected_components
    key, pairs = _CC_CASES[case]
    edges = spark.createDataFrame(pairs, f"id_a {key}, id_b {key}")
    want = _cc_reference(pairs)
    _on_path(monkeypatch, path, 2 * len(pairs))
    got = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert got == want


@pytest.mark.parametrize("path", ["one_task", "loop"])
def test_connected_components_raises_when_not_converged(spark, monkeypatch,
                                                        path):
    from flink_realtime_data_eng_spark.functions.graph import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long")
    _on_path(monkeypatch, path, 10)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1)
    # a bound of exactly the rounds needed (5 changing + 1 quiet) passes
    got = connected_components(edges, max_iter=6).collect()
    assert {r["label"] for r in got} == {1}


def _jobs_run_by(spark, group, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted under job group
    ``group``; every job-group property is cleared afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    # the status tracker is fed by the async listener bus: let it catch
    # up (bounded) so a lagging bus cannot hide jobs from the count
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_small_graph_runs_in_three_jobs(spark):
    """A small graph converges in ONE task whatever its diameter: one job
    pair materializes and counts the symmetric edges, one runs the whole
    fixpoint and reads its round count — not a job or two per round."""
    from flink_realtime_data_eng_spark.functions.graph import connected_components
    edges = spark.createDataFrame([(i, i + 1) for i in range(19)],
                                  "id_a long, id_b long")
    assert _jobs_run_by(spark, "cc-job-count",
                        lambda: connected_components(edges)) <= 3


def _lpa_reference(pairs, rounds):
    """Synchronous LPA: every edge row is a vote, ties to the smallest
    label."""
    from collections import Counter
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {v: v for v in nbrs}
    for _ in range(rounds):
        label = {v: min(Counter(label[u] for u in us).items(),
                        key=lambda kv: (-kv[1], kv[0]))[0]
                 for v, us in nbrs.items()}
    return label


@pytest.mark.parametrize("path", ["one_task", "loop"])
def test_label_propagation_duplicate_edges_and_ties(spark, monkeypatch, path):
    """Repeated edges are repeated votes, equal votes go to the smallest
    label, and the 7-8 pair swaps labels every round (synchronous LPA
    oscillates on it), so neither path may stop early."""
    from flink_realtime_data_eng_spark.functions.graph import label_propagation
    pairs = [(1, 2), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6),
             (6, 4), (4, 5), (7, 8), (9, 3), (9, 4)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    _on_path(monkeypatch, path, 2 * len(pairs))
    for rounds in (3, 4):
        got = {r["node"]: r["label"]
               for r in label_propagation(edges, rounds=rounds).collect()}
        assert got == _lpa_reference(pairs, rounds)
    assert got[7] == 7 and got[8] == 8


def test_neardup_clusters_groups_mutual_dups(spark):
    from flink_realtime_data_eng_spark.functions import dedup
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog today"),
         (3, "the quick brown fox jumps over the lazy cat today"),
         (4, "completely different text about spark and flink engines")],
        "doc_id long, text string")
    out = dedup.neardup_clusters(docs, num_hashes=16, bands=8, n=3,
                                 threshold=0.3)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    # 1-2-3 chain into one cluster labeled by min id; 4 has no dup -> absent
    assert got.get(1) == 1 and got.get(2) == 1 and got.get(3) == 1
    assert 4 not in got


def test_simhash_pairs_pigeonhole_matches_bruteforce(spark):
    """Band-join candidates + exact verify must equal brute-force all-pairs
    Hamming filtering, including pairs differing ONLY inside one band."""
    from flink_realtime_data_eng_spark.functions import dedup
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy cat today",
        "a completely different sentence with other words here",
        "the quick brown fox jumps over the lazy dog today",  # identical
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_neardup_pairs(
               df, bands=8, max_hamming=6).collect()}
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash(df).collect()}
    want = {}
    for a in sigs:
        for b in sigs:
            if a < b:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= 6:
                    want[(a, b)] = h
    assert got == want
    assert got[(0, 3)] == 0  # identical docs at distance zero


def test_simhash_pairs_ragged_bands_match_bruteforce(spark):
    """Non-dividing band counts (bands=5, bits=32 → slice widths
    7,7,6,6,6) must stay lossless: the ragged contiguous split still
    satisfies the pigeonhole argument, so candidates + exact verify equal
    brute-force all-pairs Hamming filtering."""
    from flink_realtime_data_eng_spark.functions import dedup
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy cat today",
        "a completely different sentence with other words here",
        "spark structured streaming with watermarks and state stores",
        "the quick brown fox jumps over the lazy dog today",  # identical
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_neardup_pairs(
               df, bands=5, max_hamming=3, bits=32).collect()}
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash(df, bits=32).collect()}
    want = {(a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3}
    assert got == want
    assert got[(0, 4)] == 0


def test_simhash_pairs_rejects_unsatisfiable_pigeonhole(spark):
    import pytest
    from flink_realtime_data_eng_spark.functions import dedup
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.simhash_neardup_pairs(df, bands=4, max_hamming=4)


def test_neardup_keep_drops_only_non_canonicals(spark):
    from flink_realtime_data_eng_spark.functions import dedup
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    clusters = {r["doc_id"]: r["cluster_id"] for r in
                dedup.neardup_clusters(d, threshold=0.5).collect()}
    kept = {r["doc_id"]: r["is_canonical"] for r in
            dedup.neardup_keep(d, threshold=0.5).collect()}
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    dropped = {i for i, c in clusters.items() if i != c}
    assert set(kept) == all_ids - dropped
    anchors = {c for c in clusters.values()}
    for i, canon in kept.items():
        assert canon == (i in anchors), (i, canon)


def test_incremental_candidates_match_full_restricted(spark):
    from pyspark.sql import functions as F
    from flink_realtime_data_eng_spark.functions import dedup
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    new_df, old_df = d.filter("doc_id >= 400"), d.filter("doc_id < 400")
    inc = {(r["id_a"], r["id_b"]): (r["n_shared_bands"], r["is_cross"])
           for r in dedup.incremental_lsh_candidates(new_df, old_df).collect()}
    full = {(r["id_a"], r["id_b"]): r["n_shared_bands"]
            for r in dedup.minhash_lsh_candidates(d).collect()}
    want = {p: n for p, n in full.items() if p[1] >= 400}
    assert {p: n for p, (n, _) in inc.items()} == want
    for (a, b), (_, cross) in inc.items():
        assert cross == (a < 400), (a, b)


def test_minhash_estimate_brackets_exact_jaccard(spark):
    """Binomial concentration at k=16: the signature estimator must land
    within ~3 sigma of exact Jaccard for every LSH candidate pair."""
    import math
    from flink_realtime_data_eng_spark.functions import dedup
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           dedup.minhash_jaccard_estimate(d).collect()}
    cand = spark.createDataFrame(
        [(a, b) for a, b in est], "id_a long, id_b long")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.jaccard_pairs(d, threshold=0.0, candidates=cand).collect()}
    assert set(est) == set(exact)
    k = 16
    for p, e in est.items():
        j = exact[p]
        sigma = math.sqrt(max(j * (1 - j), 0.02) / k)
        assert abs(e - j) <= 3.5 * sigma + 1e-9, (p, e, j)


def test_containment_catches_subset_duplicate(spark):
    """A short doc pasted inside a long one: low Jaccard, containment 1.0."""
    short = "the quick brown fox jumps over the lazy dog"
    long_ = short + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(30))
    df = _docs(spark, [(1, short), (2, long_), (3, "unrelated text entirely here")])
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.containment_pairs(df, n=3, threshold=0.9).collect()}
    assert cont == {(1, 2): 1.0}
    # the same pair scores well below the usual Jaccard dedup threshold
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, n=3, threshold=0.0).collect()}
    assert jac[(1, 2)] < 0.2


def test_containment_candidate_gating_matches_full(spark):
    """Candidate-gated containment equals the full self-join restricted to
    the candidate pairs (same contract as jaccard_pairs)."""
    rows = [(i, f"common shingle text block alpha beta gamma doc{i % 3}")
            for i in range(1, 7)]
    df = _docs(spark, rows)
    full = {(r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.containment_pairs(df, n=3, threshold=0.5).collect()}
    cand = spark.createDataFrame([(1, 4), (2, 5)], "id_a long, id_b long")
    gated = {(r["id_a"], r["id_b"]): r["containment"]
             for r in dedup.containment_pairs(df, n=3, threshold=0.5,
                                              candidates=cand).collect()}
    assert set(gated) <= {(1, 4), (2, 5)}
    for pair, c in gated.items():
        assert full[pair] == c


# -- Paragraph-level dedup --------------------------------------------------

def test_paragraph_dedup_unique_docs_round_trip(spark):
    from flink_realtime_data_eng_spark.functions.dedup import paragraph_dedup
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string")
    out = {r["doc_id"]: (r["text_dedup"], r["n_kept"])
           for r in paragraph_dedup(docs, chunk_tokens=2).collect()}
    assert out == {1: ("a b c d", 2), 2: ("e f g h", 2)}


def test_paragraph_dedup_drops_repeated_chunks_keeps_first(spark):
    from flink_realtime_data_eng_spark.functions.dedup import paragraph_dedup
    docs = spark.createDataFrame(
        [(1, "x y a b"), (2, "x y c d"), (3, "x y a b")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["text_dedup"], r["n_kept"])
           for r in paragraph_dedup(docs, chunk_tokens=2).collect()}
    # doc 1 owns both its chunks; doc 2 loses the shared header;
    # doc 3 is fully boilerplate -> empty
    assert out == {1: ("x y a b", 2), 2: ("c d", 1), 3: ("", 0)}


def test_paragraph_dedup_trailing_partial_chunk(spark):
    from flink_realtime_data_eng_spark.functions.dedup import paragraph_dedup
    docs = spark.createDataFrame([(7, "p q r")], "doc_id long, text string")
    out = paragraph_dedup(docs, chunk_tokens=2).collect()[0]
    assert out["text_dedup"] == "p q r" and out["n_kept"] == 2


def test_paragraph_dedup_rejects_bad_chunk_size(spark):
    from flink_realtime_data_eng_spark.functions.dedup import paragraph_dedup
    import pytest as _pytest
    with _pytest.raises(ValueError):
        paragraph_dedup(spark.createDataFrame([(1, "a")],
                                              "doc_id long, text string"),
                        chunk_tokens=0)


def test_content_chunks_robust_to_early_insertion(spark):
    """The content-defined-chunking property fixed-size chunking lacks:
    inserting a token near the start of a doc leaves every chunk after
    the next boundary IDENTICAL (only the chunk containing the edit
    changes), so chunk-level dedup still matches the unedited copy."""
    from pyspark.sql import Window as W, functions as F
    from flink_realtime_data_eng_spark.functions.dedup import _md5_hash32

    def cdc_chunks(text):
        toks = text.split(" ")
        df = spark.createDataFrame(list(enumerate(toks)), "pos long, tok string")
        h = _md5_hash32("cdc", F.col("tok"))
        w = W.orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
        out = (df.withColumn("is_b", (h % 8 == 0).cast("bigint"))
                 .withColumn("cid", F.coalesce(F.sum("is_b").over(w), F.lit(0)))
                 .groupBy("cid")
                 .agg(F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                     lambda x: x["tok"])).alias("chunk")))
        return [r["chunk"] for r in out.orderBy("cid").collect()]

    base = "alpha beta gamma delta epsilon zeta eta theta " \
           "iota kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    edited = "INSERTED " + base
    a, b = cdc_chunks(base), cdc_chunks(edited)
    # all chunks of the original except its first are preserved verbatim
    assert len(set(a[1:]) - set(b)) == 0
    # and the edit changed at most the first chunk
    assert set(a) - set(b) <= {a[0]}


def test_dup_ngram_frac_flags_boilerplate_doc(spark):
    # doc1 and doc2 share their full text (all spans duplicated); doc3 is
    # unique prose; doc4 is too short for any 3-gram span.
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"),
                       (3, "u v w x y"), (4, "p q")])
    out = {r["doc_id"]: r for r in
           dedup.dup_ngram_fraction(df, n=3, max_frac=0.5).collect()}
    assert out[1]["dup_frac"] == 1.0 and not out[1]["keep"]
    assert out[2]["dup_frac"] == 1.0 and not out[2]["keep"]
    assert out[3]["dup_frac"] == 0.0 and out[3]["keep"]
    assert out[4]["n_spans"] == 0 and out[4]["keep"]


def test_dup_ngram_frac_partial_overlap(spark):
    # doc1: spans {a b c, b c d, c d e}; doc2 shares only "a b c".
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c x y")])
    out = {r["doc_id"]: r for r in
           dedup.dup_ngram_fraction(df, n=3, max_frac=0.5).collect()}
    assert out[1]["n_spans"] == 3 and out[1]["n_dup_spans"] == 1
    assert out[1]["dup_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[1]["keep"] and out[2]["keep"]


def test_pagerank_star_graph_ranks_center_highest(spark):
    from flink_realtime_data_eng_spark.functions.graph import pagerank
    # Star: 1 is the hub of {2,3,4}. Replicate the exact integer
    # recurrence in Python; the Spark result must match bit-for-bit.
    edges = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                  "id_a long, id_b long")
    got = {r["node"]: r["rank_i9"]
           for r in pagerank(edges, iterations=5).collect()}

    deg = {1: 3, 2: 1, 3: 1, 4: 1}
    sym = [(1, 2), (2, 1), (1, 3), (3, 1), (1, 4), (4, 1)]
    s = {n: 10 ** 9 for n in deg}
    for _ in range(5):
        inc = {n: 0 for n in deg}
        for a, b in sym:
            inc[b] += s[a] // deg[a]
        s = {n: 150000000 + (17 * inc[n]) // 20 for n in deg}
    assert got == s
    assert got[1] > got[2] == got[3] == got[4]


def test_triangle_count_known_graphs(spark):
    from flink_realtime_data_eng_spark.functions.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return triangle_count(df).collect()[0]["n_triangles"]

    # K4: C(4,3) = 4 triangles; path graph: none; triangle + dangler: 1.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert tri(k4) == 4
    assert tri([(1, 2), (2, 3), (3, 4)]) == 0
    assert tri([(1, 2), (2, 3), (1, 3), (3, 9)]) == 1


def test_joint_dedup_persisted_matches_recompute(spark):
    # The persisted-keeplist composition must answer exactly what the
    # inline recompute answers (same corpus, same params) — with a plan
    # that reads parquet keep-lists instead of re-running LSH/CC/SemDeDup.
    from flink_realtime_data_eng_spark import registry
    sf = "/root/testdata/sf0.001"
    live = sorted(map(tuple, registry.QUERIES["x_joint_dedup"](
        spark, sf).collect()))
    persisted = sorted(map(tuple, registry.QUERIES["x_joint_dedup_persisted"](
        spark, sf).collect()))
    assert live == persisted


def test_full_dedup_policy_flag_consistency(spark):
    # kept must equal the AND of the four lineage flags, every doc appears
    # exactly once, and the policy is strictly at-most-as-permissive as the
    # two-signal joint policy.
    from flink_realtime_data_eng_spark import registry
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["x_full_dedup_policy"](spark, sf).collect()
    assert len(rows) == len({r["doc_id"] for r in rows})
    for r in rows:
        assert r["kept"] == (r["kept_text"] and r["kept_embedding"]
                             and r["kept_containment"] and r["kept_paragraph"])
    joint = {r["doc_id"]: r["kept"] for r in
             registry.QUERIES["x_joint_dedup"](spark, sf).collect()}
    for r in rows:
        if r["kept"]:
            assert joint[r["doc_id"]]


def _prefix_path(monkeypatch, path):
    """Route prefix_filter_pairs to ``path``: 'one_task' is the default
    for any small corpus; 'distributed' lowers the one-task bound below
    every shingle-row count."""
    if path == "distributed":
        monkeypatch.setattr(dedup, "_PREFIX_ONE_TASK_ROWS", -1)


@pytest.mark.parametrize("path", ["one_task", "distributed"])
def test_prefix_filter_pairs_matches_full_jaccard(spark, monkeypatch, path):
    """Prefix filtering is LOSSLESS: the candidate-gated result must
    equal the full self-join Jaccard at the same threshold (sf0.001)."""
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    _prefix_path(monkeypatch, path)
    full = {(r.id_a, r.id_b, r.jaccard) for r in
            dedup.jaccard_pairs(d, n=3, threshold=0.5).collect()}
    pref = {(r.id_a, r.id_b, r.jaccard) for r in
            dedup.prefix_filter_pairs(d, n=3, threshold=0.5).collect()}
    assert pref == full
    assert len(full) > 0  # non-vacuous


def _jaccard_reference(rows, n, threshold):
    """Plain-Python exact Jaccard join: distinct word n-grams of the
    normalized text per id, pairs id_a < id_b sharing a shingle with
    round(J, 6) >= threshold; NULL ids never pair."""
    import re
    sets = {}
    for i, text in rows:
        if i is None:
            continue
        w = re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", (text or "").lower()))
        w = w.strip().split(" ")
        sets[i] = {" ".join(w[k:k + n]) for k in range(len(w) - n + 1)}
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a < b and sa & sb:
                j = round(len(sa & sb) / len(sa | sb), 6)
                if j >= threshold:
                    out.add((a, b, j))
    return out


_PPJ_CASES = {
    "empty": ("long", []),
    "short_only": ("long", [(1, "a"), (2, "b c"), (3, None)]),
    # 1-2 identical (J = 1), 1-3 and 2-3 share 2 of 4 bigrams (J = t
    # exactly), the NULL id copies doc 1, doc 4 is shorter than n
    "edges": ("long", [(1, "a b c d"), (2, "A, b c d!"), (3, "a b c x"),
                       (None, "a b c d"), (4, "a"), (5, "p q r s")]),
    # Spark orders strings by UTF-8 bytes, i.e. by code point: 'é' > 'z'
    "string_ids": ("string", [("é", "a b c d"), ("z", "a b c d"),
                              ("B", "a b c x"), ("b", "q r s t")]),
}


@pytest.mark.parametrize("case", sorted(_PPJ_CASES))
@pytest.mark.parametrize("path", ["one_task", "distributed"])
def test_prefix_filter_edge_inputs_match_reference(spark, monkeypatch,
                                                   path, case):
    """Both paths give the plain-Python exact join on empty input (no
    batch reaches the one-task kernel), docs shorter than n, NULL ids and
    texts, identical docs and a pair exactly at the threshold."""
    key, rows = _PPJ_CASES[case]
    df = spark.createDataFrame(rows, f"doc_id {key}, text string")
    _prefix_path(monkeypatch, path)
    got = {tuple(r) for r in
           dedup.prefix_filter_pairs(df, n=2, threshold=0.5).collect()}
    assert got == _jaccard_reference(rows, 2, 0.5)


def test_prefix_filter_pairs_constructs_in_three_jobs(spark):
    """Below the one-task bound, building the query runs only the
    document read and the counted shingle checkpoint; the join itself
    runs when the result executes (the distributed path ran ~14 jobs)."""
    from flink_realtime_data_eng_spark.schemas import load_table

    def build():
        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        dedup.prefix_filter_pairs(d, n=3, threshold=0.5)

    assert _jobs_run_by(spark, "ppjoin-job-count", build) <= 3


def test_prefix_filter_prunes_candidates(spark):
    """The prefix self-join must consider strictly fewer doc pairs than
    the all-shingles self-join (the point of the operator)."""
    from flink_realtime_data_eng_spark.functions import dedup
    from flink_realtime_data_eng_spark.schemas import load_table
    from pyspark.sql import Window as W, functions as F
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = dedup.shingles(d, 3)
    full_pairs = (sh.alias("a").join(sh.alias("b"), "shingle")
                  .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                  .select(F.col("a.doc_id"), F.col("b.doc_id"))
                  .distinct().count())
    t = 0.5
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_freq"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ranked = (sh.join(freq, "shingle")
                .withColumn("rn", F.row_number().over(
                    W.partitionBy("doc_id").orderBy("df_freq", "shingle")))
                .join(sizes, "doc_id")
                .filter(F.col("rn") <= F.col("n_sh")
                        - F.ceil(F.lit(t) * F.col("n_sh")) + 1)
                .select("doc_id", "shingle"))
    pref_pairs = (ranked.alias("a").join(ranked.alias("b"), "shingle")
                  .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                  .select(F.col("a.doc_id"), F.col("b.doc_id"))
                  .distinct().count())
    assert pref_pairs < full_pairs


def test_kcore_peels_tail_and_keeps_clique(spark):
    """Triangle with a pendant tail: the 2-core is exactly the triangle
    (every node at degree 2); tail nodes peel off transitively."""
    from flink_realtime_data_eng_spark.functions.graph import kcore
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),      # triangle = 2-core
         (3, 4), (4, 5)],             # tail: 5 peels, then 4
        "id_a long, id_b long")
    got = {(r.node, r.deg) for r in kcore(edges, k=2, rounds=6).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_kcore_fixture_reaches_fixpoint(spark):
    """x_kcore declares 6 unrolled rounds; the sf0.01 near-dup graph must
    converge strictly inside that (round 5 == round 6), otherwise the
    fixed-round contract understates the true core."""
    from flink_realtime_data_eng_spark.functions import dedup
    from flink_realtime_data_eng_spark.functions.graph import kcore
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    pairs = dedup.neardup_pipeline(d, num_hashes=16, bands=4, n=3,
                                   threshold=0.5).localCheckpoint()
    five = {(r.node, r.deg) for r in kcore(pairs, 2, rounds=5).collect()}
    six = {(r.node, r.deg) for r in kcore(pairs, 2, rounds=6).collect()}
    assert five == six


def test_bfs_hops_chain_and_unreachable(spark):
    """BFS must assign MIN hop (first-discovery round), stop at the round
    budget, and leave unreachable nodes out: chain 1-2-3-4-5 seeded at 1
    with rounds=3 reaches 4 (hop 3) but not 5; the 1-2 back-edge and the
    2-3/3-2 symmetry must not re-discover visited nodes at later hops."""
    from flink_realtime_data_eng_spark.functions.graph import bfs_hops
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 1)],
        "id_a bigint, id_b bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds,
                                                 rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # two seeds meeting in the middle: each node takes the nearer one
    seeds2 = spark.createDataFrame([(1,), (5,)], "node bigint")
    got2 = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds2,
                                                  rounds=3).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_exact_substr_spans_merges_overlapping_windows(spark):
    # Shared run "a b c d e" (5 tokens) across docs 1 and 2, n=4: windows
    # at doc-1 positions 2 and 3 both duplicate -> ONE maximal region
    # [2, 6] of 5 tokens; singleton tails are never covered.
    df = _docs(spark, [(1, "x y a b c d e p q"),
                       (2, "m a b c d e n")])
    out = {(r["doc_id"], r["span_start"], r["span_end"], r["removed_tokens"])
           for r in dedup.exact_substr_spans(df, n=4, min_count=2).collect()}
    assert out == {(1, 2, 6, 5), (2, 1, 5, 5)}


def test_exact_substr_spans_within_doc_repeats_count(spark):
    # Lee et al. count within-document repeats: one doc repeating its own
    # 4-gram twice is a duplicate even with no second document.
    df = _docs(spark, [(1, "a b c d z z z a b c d"),
                       (2, "totally unrelated words here")])
    out = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in dedup.exact_substr_spans(df, n=4, min_count=2).collect()}
    assert out == {(1, 0, 3), (1, 7, 10)}


def test_exact_substr_spans_distinct_regions_stay_split(spark):
    # Two duplicated runs separated by a gap wider than n must NOT merge.
    df = _docs(spark, [(1, "a b c d u v w x y z e f g h"),
                       (2, "a b c d q r s t e f g h")])
    out = sorted((r["doc_id"], r["span_start"], r["span_end"])
                 for r in dedup.exact_substr_spans(df, n=4, min_count=2).collect())
    assert out == [(1, 0, 3), (1, 10, 13), (2, 0, 3), (2, 8, 11)]


@pytest.mark.parametrize("path", ["one_task", "distributed"])
def test_prefix_filter_lossless_across_thresholds(spark, monkeypatch, path):
    """The PPJoin filters and verify must stay lossless at LOW thresholds
    (long prefixes, weak positional bound) and HIGH ones (short prefixes,
    tight bound) — not just the registry's t=0.5."""
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    _prefix_path(monkeypatch, path)
    for t in (0.3, 0.8):
        full = {(r.id_a, r.id_b, r.jaccard) for r in
                dedup.jaccard_pairs(d, n=3, threshold=t).collect()}
        pref = {(r.id_a, r.id_b, r.jaccard) for r in
                dedup.prefix_filter_pairs(d, n=3, threshold=t).collect()}
        assert pref == full, f"threshold {t}: prefix-filter != full join"
