"""Similarity search on tiny hand-computed vectors."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_realtime_data_eng_spark.functions import similarity


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 0.0], [1.0, 0.0]),
         ([1.0, 2.0], [2.0, 4.0])],
        "a array<float>, b array<float>")
    got = [r["c"] for r in df.select(similarity.cosine("a", "b").alias("c")).collect()]
    assert got[0] == pytest.approx(0.0, abs=1e-9)
    assert got[1] == pytest.approx(1.0, abs=1e-9)
    assert got[2] == pytest.approx(1.0, abs=1e-6)


def test_brute_force_topk_ordering_and_self_exclusion(spark):
    corpus = _emb(spark, [(1, [1.0, 0.0]), (2, [0.9, 0.1]),
                          (3, [0.0, 1.0]), (4, [-1.0, 0.0])])
    q = corpus.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(corpus, q, k=2)
    rows = sorted((r["rk"], r["vec_id"]) for r in out.collect())
    # self (vec 1) excluded; nearest is 2, then 3 (orthogonal beats opposite).
    assert rows == [(1, 2), (2, 3)]


def test_brute_force_topk_independent_id_space(spark):
    corpus = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    q = spark.createDataFrame([(1, [0.0, 1.0])],
                              "query_id long, embedding array<float>")
    out = similarity.brute_force_topk(corpus, q, k=2, exclude_self=False)
    # query_id 1 collides with corpus vec_id 1 but must NOT drop it.
    assert out.count() == 2
    top = out.filter(F.col("rk") == 1).collect()[0]
    assert top["vec_id"] == 2  # exact match wins


def test_lsh_topk_subset_of_brute_force_buckets(spark):
    # LSH top-k returns only same-bucket candidates; scores must equal the
    # brute-force cosine for the pairs it does return.
    corpus = _emb(spark, [(i, [float(i), 1.0]) for i in range(20)])
    q = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    lsh = similarity.lsh_bucketed_topk(corpus, q, k=3, num_planes=4)
    bf = similarity.brute_force_topk(corpus, q, k=20)
    bf_scores = {(r["query_id"], r["vec_id"]): r["score"] for r in bf.collect()}
    for r in lsh.collect():
        assert bf_scores[(r["query_id"], r["vec_id"])] == r["score"]


def test_norm_stats_by_label(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0], 0), (2, [6.0, 8.0], 0), (3, [1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in similarity.norm_stats_by_label(df).collect()}
    assert out[0]["n_vecs"] == 2
    assert out[0]["min_norm"] == pytest.approx(5.0)
    assert out[0]["max_norm"] == pytest.approx(10.0)
    assert out[0]["avg_norm"] == pytest.approx(7.5)
    assert out[1]["avg_norm"] == pytest.approx(1.0)


def test_embedding_neardup_exact_pairs(spark):
    df = _emb(spark, [(1, [1.0, 0.0]), (2, [0.999, 0.01]),
                      (3, [0.0, 1.0]), (4, [0.0, -1.0])])
    out = similarity.embedding_neardup_pairs(df, threshold=0.9)
    rows = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert rows == [(1, 2)]


def test_embedding_neardup_lsh_subset_of_exact(spark):
    df = _emb(spark, [(i, [float(i % 7), float(i % 3) + 0.1]) for i in range(30)])
    exact = {(r["id_a"], r["id_b"]): r["score"]
             for r in similarity.embedding_neardup_pairs(df, 0.99).collect()}
    lsh = similarity.embedding_neardup_candidates(df, 0.99, num_planes=4)
    for r in lsh.collect():
        # every LSH-gated pair is a real near-dup with the identical score
        assert exact[(r["id_a"], r["id_b"])] == r["score"]


def test_ivf_topk_recovers_cluster_neighbors(spark):
    # Three tight, well-separated clusters; with n_probe=1 a query drawn
    # from a cluster must retrieve exactly its brute-force neighbors
    # (they share its probed cell).
    import random
    rng = random.Random(7)
    rows = []
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [v + rng.uniform(-0.1, 0.1) for v in c]))
    corpus = _emb(spark, rows)
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ivf = similarity.ivf_topk(corpus, q, k=5, n_lists=3, n_probe=1)
    bf = similarity.brute_force_topk(corpus, q, k=5)
    got = sorted((r["query_id"], r["rk"], r["vec_id"]) for r in ivf.collect())
    want = sorted((r["query_id"], r["rk"], r["vec_id"]) for r in bf.collect())
    assert got == want


def test_ivf_topk_exact_matches_brute_force_on_clusters(spark):
    # Same cluster setup as the MLlib variant: integer Lloyd must land the
    # same cells, so with n_probe=1 each query retrieves exactly its
    # brute-force neighbors.
    import random
    rng = random.Random(7)
    rows = []
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [v + rng.uniform(-0.1, 0.1) for v in c]))
    corpus = _emb(spark, rows)
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    ivf = similarity.ivf_topk_exact(corpus, q, k=5, n_lists=3, n_probe=1,
                                    iters=3)
    bf = similarity.brute_force_topk(corpus, q, k=5)
    got = sorted((r["query_id"], r["rk"], r["vec_id"]) for r in ivf.collect())
    want = sorted((r["query_id"], r["rk"], r["vec_id"]) for r in bf.collect())
    assert got == want


def test_ivf_topk_exact_is_deterministic_across_runs(spark):
    # The whole point of the integer-Lloyd trainer: two runs (fresh plans,
    # fresh seed collection) produce identical rankings AND scores.
    rows = [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
            for i in range(80)]
    corpus = _emb(spark, rows)
    q = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    a = sorted(map(tuple, similarity.ivf_topk_exact(
        corpus, q, k=4, n_lists=4, n_probe=2, iters=2).collect()))
    b = sorted(map(tuple, similarity.ivf_topk_exact(
        corpus, q, k=4, n_lists=4, n_probe=2, iters=2).collect()))
    assert a == b


def test_quantize_int8_roundtrip_and_zero_vector(spark):
    import hashlib
    from flink_realtime_data_eng_spark.functions.similarity import (
        quantize_int8)
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 4.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    # vec 1: scale = 4/127; q = round(v * 127/4) = [32, -64, 127]
    assert out[1]["q_fp"] == hashlib.md5(b"32,-64,127").hexdigest()
    assert out[1]["q_l1"] == 32 + 64 + 127 and out[1]["dim"] == 3
    assert abs(out[1]["scale"] - round(4 / 127, 6)) < 1e-12
    # zero vector: scale 0, all-zero quant, no div-by-zero NaNs
    assert out[2]["scale"] == 0.0 and out[2]["q_l1"] == 0
    assert out[2]["q_fp"] == hashlib.md5(b"0,0,0").hexdigest()


def test_multiprobe_recall_dominates_single_probe(spark):
    from flink_realtime_data_eng_spark.functions import similarity
    from flink_realtime_data_eng_spark.schemas import load_table
    from pyspark.sql import functions as F
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"]) for r in
             similarity.brute_force_topk(emb, q, k=5).collect()}
    single = {(r["query_id"], r["vec_id"]) for r in
              similarity.lsh_bucketed_topk(emb, q, k=5, num_planes=8).collect()}
    multi = {(r["query_id"], r["vec_id"]) for r in
             similarity.lsh_multiprobe_topk(emb, q, k=5, num_planes=8).collect()}
    # multi-probe candidates are a superset of single-probe's buckets, so
    # recall of the exact top-5 can only improve
    assert len(multi & exact) >= len(single & exact)
    # and every query gets a full result set at Hamming radius 1 here
    from collections import Counter
    per_q = Counter(qid for qid, _ in multi)
    assert all(v == 5 for v in per_q.values()), per_q


def test_semdedup_keeps_one_per_duplicate_cluster(spark):
    # Two identical vectors (same bucket, cosine 1) and one orthogonal-ish
    # singleton: the lower id anchors the cluster, the higher id drops.
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0]),
            (7, [0.0, 0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["is_canonical"]
           for r in similarity.semdedup_keep(df, threshold=0.95,
                                             num_planes=4).collect()}
    assert 2 not in out
    assert out[1] is True        # anchored a cluster (dropped its dup)
    assert out[7] is False       # kept, but had no near-dup


def test_label_centroids_exact_means(spark):
    rows = [(1, [1.0, 0.0], 0), (2, [3.0, 2.0], 0), (3, [5.0, 5.0], 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {(r["label"], r["dim"]): (r["n_vecs"], r["sum_e6"], r["mean_val"])
           for r in similarity.label_centroids(df).collect()}
    assert got[(0, 0)] == (2, 4_000_000, 2.0)
    assert got[(0, 1)] == (2, 2_000_000, 1.0)
    assert got[(1, 0)] == (1, 5_000_000, 5.0)


def test_int8_rerank_orders_by_exact_cosine(spark):
    # All vectors share the all-positive LSH bucket. The int8 stage keeps
    # everything (shortlist > corpus); the exact stage must rank the
    # near-parallel vector above the more orthogonal one.
    rows = [(0, [1.0, 0.1, 0.1, 0.1]),
            (1, [1.0, 0.1, 0.1, 0.2]),   # nearly parallel to query 0
            (2, [0.3, 1.0, 0.9, 0.8])]   # same bucket, further away
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.int8_rerank_topk(
        df, df.filter("vec_id = 0"), k=2, shortlist=10,
        num_planes=2).collect()
    ranked = sorted(out, key=lambda r: r["rk"])
    assert [r["vec_id"] for r in ranked] == [1, 2]
    assert ranked[0]["score"] > ranked[1]["score"]
    assert all(r["query_id"] == 0 for r in ranked)


def test_mmr_penalizes_redundant_candidates(spark):
    """MMR's point: the near-duplicate of pick 1 loses to a less relevant
    but diverse candidate. The query must NOT be parallel to pick 1 —
    if q == A then rel(x) == sim(A, x) for every x and all lambda-0.5 MMR
    scores collapse to ~0 (pure id tie-break, no diversification signal).
    Here A/A' sit +25 deg off the query, B -25 deg: pure top-2 is (A, A'),
    MMR picks (A, B) because sim(A, A') ~ 1 but sim(A, B) ~ 0.64."""
    rows = [(100, [1.0, 0.0]),      # the query vector
            (1, [0.92, 0.392]),     # A: rel ~0.92
            (2, [0.92, 0.393]),     # A': rel ~0.92, sim(A,A') ~1
            (3, [0.9, -0.43])]      # B: rel ~0.90, diverse from A
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 100").selectExpr("vec_id AS query_id",
                                             "embedding")
    out = similarity.mmr_diversify(df, q, k=2, m=3).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rk"])] == [1, 3]


def test_mmr_first_pick_is_pure_relevance_with_id_ties(spark):
    """Pick 1 ignores diversity entirely; equal relevance breaks to the
    smaller id (the oracle's ORDER BY rel DESC, vec_id)."""
    rows = [(100, [1.0, 0.0]),
            (7, [2.0, 0.0]),       # same direction as 5 => same cosine
            (5, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 100").selectExpr("vec_id AS query_id",
                                             "embedding")
    out = sorted(similarity.mmr_diversify(df, q, k=2, m=3).collect(),
                 key=lambda r: r["rk"])
    assert out[0]["vec_id"] == 5 and out[1]["vec_id"] == 7


def test_mmr_deterministic_across_runs(spark):
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).selectExpr("vec_id AS query_id",
                                                   "embedding")
    a = similarity.mmr_diversify(emb, q, k=5, m=10).collect()
    b = similarity.mmr_diversify(emb, q, k=5, m=10).collect()
    assert a == b


def test_pq_topk_exact_recall_reasonable_vs_brute_force(spark):
    """8x4-bit PQ codes on 64-dim vectors keep most of the exact top-5:
    on the sf0.001 fixture recall@5 over 10 queries should be well above
    chance (5/499) — assert a conservative floor, determinism elsewhere."""
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10).selectExpr("vec_id AS query_id",
                                                    "embedding")
    pq = {(r["query_id"], r["vec_id"])
          for r in similarity.pq_topk_exact(emb, q, k=5, m=16, ks=32,
                                            iters=2, train_max=512,
                                            shortlist=50).collect()}
    bf = {(r["query_id"], r["vec_id"])
          for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    assert len(pq) == 50 and len(bf) == 50
    assert len(pq & bf) >= 40  # two-stage recall@5 >= 0.8 (measured 0.94)


def test_pq_topk_deterministic_across_runs(spark):
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id AS query_id",
                                                   "embedding")
    a = similarity.pq_topk_exact(emb, q, k=3, m=8, ks=8, iters=2,
                                 train_max=256).collect()
    b = similarity.pq_topk_exact(emb, q, k=3, m=8, ks=8, iters=2,
                                 train_max=256).collect()
    assert sorted(a) == sorted(b) and len(a) == 15


def test_pq_rejects_indivisible_subspaces(spark):
    df = spark.createDataFrame([(1, [0.1, 0.2, 0.3])],
                               "vec_id long, embedding array<float>")
    q = df.selectExpr("vec_id AS query_id", "embedding")
    import pytest
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_topk_exact(df, q, m=2, ks=1, train_max=4)


def test_pq_persisted_index_roundtrip_matches_inline(spark, tmp_path):
    """Train once, persist codes + codebook to parquet, serve with
    pq_adc_topk from the parquet — bit-identical to the inline
    pq_topk_exact build (the x_pq_persisted_topk contract)."""
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id AS query_id",
                                                   "embedding")
    books = similarity.pq_train_books(emb, m=8, ks=16, iters=2,
                                      train_max=256)
    similarity.pq_encode(emb, books).write.parquet(str(tmp_path / "codes"))
    similarity._pq_books_df(spark, books).write.parquet(
        str(tmp_path / "books"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    row = spark.read.parquet(str(tmp_path / "books")).collect()[0]
    books_rt = [[list(cv) for cv in book] for book in row["B"]]
    assert books_rt == books  # the nested int artifact survives parquet
    served = similarity.pq_adc_topk(codes, books_rt, q, corpus=emb, k=3,
                                    shortlist=20).collect()
    inline = similarity.pq_topk_exact(emb, q, k=3, m=8, ks=16, iters=2,
                                      train_max=256,
                                      shortlist=20).collect()
    assert sorted(served) == sorted(inline) and len(served) == 15


def test_ivfpq_persisted_index_roundtrip_matches_inline(spark, tmp_path):
    """Train once, persist (cell, codes) posting lists + both codebooks
    to parquet, serve with ivfpq_adc_topk from the parquet —
    bit-identical to the inline ivfpq_topk_exact build (the
    x_ivfpq_persisted_topk contract)."""
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id AS query_id",
                                                   "embedding")
    coarse, books = similarity.ivfpq_train(emb, n_lists=4, coarse_iters=2,
                                           m=8, ks=16, pq_iters=2,
                                           train_max=256)
    similarity.ivfpq_encode(emb, coarse, books).write.parquet(
        str(tmp_path / "codes"))
    similarity._ivfpq_books_df(spark, coarse, books).write.parquet(
        str(tmp_path / "books"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    row = spark.read.parquet(str(tmp_path / "books")).collect()[0]
    coarse_rt = [list(cv) for cv in row["C"]]
    books_rt = [[list(cv) for cv in book] for book in row["B"]]
    assert coarse_rt == coarse and books_rt == books
    served = similarity.ivfpq_adc_topk(codes, coarse_rt, books_rt, q, emb,
                                       k=3, n_probe=2,
                                       shortlist=20).collect()
    inline = similarity.ivfpq_topk_exact(emb, q, k=3, n_lists=4, n_probe=2,
                                         coarse_iters=2, m=8, ks=16,
                                         pq_iters=2, train_max=256,
                                         shortlist=20).collect()
    assert sorted(served) == sorted(inline) and len(served) == 15


def test_ivfpq_topk_recall_and_determinism(spark):
    """Composed IVFADC: recall@5 bounded below (cell-miss dominates at
    3/8 cells probed on this weakly clustered fixture; measured 0.64),
    and bit-identical across runs."""
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10).selectExpr("vec_id AS query_id",
                                                    "embedding")
    a = similarity.ivfpq_topk_exact(emb, q, n_probe=3).collect()
    b = similarity.ivfpq_topk_exact(emb, q, n_probe=3).collect()
    assert sorted(a) == sorted(b) and len(a) == 50
    bf = {(r["query_id"], r["vec_id"])
          for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    got = {(r["query_id"], r["vec_id"]) for r in a}
    assert len(got & bf) >= 25  # >= 0.5 recall@5


def test_ivfpq_probe_widening_monotone_recall(spark):
    """Probing every cell makes IVFADC equal the flat-PQ shortlist path:
    recall must be weakly monotone in n_probe (1 <= 3 <= 8 cells)."""
    from flink_realtime_data_eng_spark.schemas import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).selectExpr("vec_id AS query_id",
                                                   "embedding")
    bf = {(r["query_id"], r["vec_id"])
          for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    rec = []
    for np_ in (1, 3, 8):
        got = {(r["query_id"], r["vec_id"])
               for r in similarity.ivfpq_topk_exact(emb, q,
                                                    n_probe=np_).collect()}
        rec.append(len(got & bf))
    assert rec[0] <= rec[1] <= rec[2]


def test_auto_planes_integer_exact():
    """auto_planes = max(floor, ceil(log2(ceil(n/avg)))) with integer
    arithmetic; agrees with the oracle's count-of-powers replay."""
    from flink_realtime_data_eng_spark.functions.similarity import auto_planes

    def oracle_count(n, avg=8):
        m = max(1, (n + avg - 1) // avg)
        return max(8, sum(1 for p in range(63) if (1 << p) < m))

    # gate SFs stay at the floor -> bit-identical to the fixed-plane form
    assert auto_planes(500) == 8
    assert auto_planes(2000) == 8
    # one / two decades up
    assert auto_planes(20_000) == 12
    assert auto_planes(200_000) == 15
    # exact power-of-two boundaries and tiny corpora
    assert auto_planes(8 * 256) == 8          # m=256 -> exactly 8
    assert auto_planes(8 * 256 + 1) == 9      # one past -> 9
    assert auto_planes(1) == 8 and auto_planes(0) == 8
    for n in [1, 7, 8, 63, 64, 500, 2000, 2047, 2048, 2049, 10**6, 10**9]:
        assert auto_planes(n) == oracle_count(n), n
    # occupancy bound: n / 2^planes <= avg_bucket for all n
    for n in range(1, 5000, 37):
        assert n / (1 << auto_planes(n)) <= 8


def test_kmeans_assign_separates_obvious_clusters(spark):
    # two tight groups on opposite axes; k=2 init = vecs 0 and 1 (one in
    # each group by construction), so Lloyd must recover the grouping.
    corpus = _emb(spark, [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [0.9, 0.1]), (3, [0.1, 0.9]),
        (4, [1.1, -0.1]), (5, [-0.1, 1.1])])
    out = {r["vec_id"]: r["cluster"]
           for r in similarity.kmeans_assign(corpus, k=2, iters=2).collect()}
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3] == out[5]
    assert out[0] != out[1]


def test_kmeans_assign_deterministic_and_total(spark):
    corpus = _emb(spark, [(i, [float(i % 3), float((i * 7) % 5)])
                          for i in range(20)])
    a = sorted(map(tuple, similarity.kmeans_assign(corpus, k=4,
                                                   iters=2).collect()))
    b = sorted(map(tuple, similarity.kmeans_assign(corpus, k=4,
                                                   iters=2).collect()))
    assert a == b                      # bit-identical across runs
    assert len(a) == 20                # every vector assigned exactly once
    assert all(0 <= r[1] < 4 for r in a)
    assert all(r[2] >= 0 for r in a)   # exact integer squared distance


def test_kmeans_assign_empty_cluster_keeps_previous_centroid(spark):
    # k=3 over vectors where seeds 0,1,2 start distinct but every point
    # is nearest seed 0's region -> clusters 1,2 go empty after iter 1;
    # the update must keep their centroids (no NULL / dropped clusters).
    corpus = _emb(spark, [(0, [0.0, 0.0]), (1, [0.1, 0.0]),
                          (2, [0.0, 0.1]), (3, [0.01, 0.01]),
                          (4, [0.02, 0.0])])
    out = similarity.kmeans_assign(corpus, k=3, iters=2).collect()
    assert len(out) == 5
    assert all(r["dist"] >= 0 for r in out)


def test_pca_project_recovers_dominant_axis(spark):
    # points spread along (1, 1)/sqrt2 with tiny orthogonal noise: PC1
    # scores must order with the position along that axis.
    pts = [(i, [float(t), float(t + (0.001 if i % 2 else -0.001))])
           for i, t in enumerate([-0.9, -0.5, -0.1, 0.2, 0.6, 0.9])]
    out = {r["vec_id"]: r["pc1"]
           for r in similarity.pca_project(_emb(spark, pts),
                                           iters=6).collect()}
    scores = [out[i] for i in range(6)]
    assert scores == sorted(scores) or scores == sorted(scores, reverse=True)


def test_pca_project_deterministic_and_centered(spark):
    corpus = _emb(spark, [(i, [float((i * 3) % 7) / 7.0,
                               float((i * 5) % 11) / 11.0,
                               float(i % 2)])
                          for i in range(30)])
    a = sorted(map(tuple, similarity.pca_project(corpus, iters=6).collect()))
    b = sorted(map(tuple, similarity.pca_project(corpus, iters=6).collect()))
    assert a == b and len(a) == 30
    # projections of mean-centered data onto a fixed axis sum to ~0
    # (integer truncation leaves at most d*|v|max slack per vector)
    assert abs(sum(r[1] for r in a)) < 30 * 3 * 2_000_000


def test_kmeans_incremental_consistent_with_full_when_delta_empty(spark):
    corpus = _emb(spark, [(i, [float(i % 3), float((i * 7) % 5)])
                          for i in range(20)])
    empty = corpus.filter(F.col("vec_id") < 0)
    inc = {r["vec_id"]: (r["cluster"], r["dist"])
           for r in similarity.kmeans_incremental(corpus, empty,
                                                  k=4, iters=2).collect()}
    # empty delta -> merged mean over base members = one extra Lloyd
    # half-step; assignments must still be total and deterministic
    assert len(inc) == 20
    full = {r["vec_id"]: (r["cluster"], r["dist"])
            for r in similarity.kmeans_incremental(corpus, empty,
                                                   k=4, iters=2).collect()}
    assert inc == full


def test_kmeans_incremental_delta_rows_flagged_and_assigned(spark):
    base = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
                        (2, [0.9, 0.1]), (3, [0.1, 0.9])])
    delta = _emb(spark, [(10, [1.05, 0.0]), (11, [0.0, 1.05])])
    out = {r["vec_id"]: r for r in
           similarity.kmeans_incremental(base, delta, k=2,
                                         iters=2).collect()}
    assert len(out) == 6
    assert out[10]["is_delta"] and out[11]["is_delta"]
    assert not out[0]["is_delta"]
    # delta vectors land with their obvious groups
    assert out[10]["cluster"] == out[0]["cluster"] == out[2]["cluster"]
    assert out[11]["cluster"] == out[1]["cluster"] == out[3]["cluster"]


def test_semantic_leakage_flags_planted_twin(spark):
    import math
    # corpus vector 2 is a near-copy of bench vector 100; vector 3 is
    # orthogonal junk. Fixed planes (avg_bucket=None) keep it exact.
    corpus = _emb(spark, [(2, [0.70, 0.70, 0.1]), (3, [-0.9, 0.1, 0.0])])
    bench = _emb(spark, [(100, [0.71, 0.69, 0.1])])
    out = similarity.semantic_leakage(corpus, bench, threshold=0.9,
                                      avg_bucket=None).collect()
    assert [(r["bench_id"], r["corpus_id"]) for r in out] == [(100, 2)]
    assert out[0]["score"] > 0.99


def test_semantic_leakage_asymmetric_no_self_pairs(spark):
    import math
    # bench and corpus share no ids; every returned pair crosses the sets
    df = _emb(spark, [(i, [float(math.cos(i * 0.7)),
                           float(math.sin(i * 0.7))]) for i in range(40)])
    out = similarity.semantic_leakage(df.filter(F.col("vec_id") % 4 != 0),
                                      df.filter(F.col("vec_id") % 4 == 0),
                                      threshold=0.5).collect()
    assert all(r["bench_id"] % 4 == 0 and r["corpus_id"] % 4 != 0
               for r in out)
    assert len(out) > 0


def test_cosine_null_contract(spark):
    # Pins the historical expression's null semantics (r14 ADVICE): a NULL
    # vector side scores 0.0 (its norm nulled the denominator and
    # when(den > 0, ·) fell through to the 0.0 branch); length-mismatched
    # non-null vectors score NULL (zip_with padded the dot with null while
    # the denominator stayed positive). An empty or all-zero side makes the
    # denominator 0, so those pairs score 0.0 even at unequal lengths.
    df = spark.createDataFrame(
        [(1, None, [1.0, 0.0]), (2, [1.0, 0.0], None), (3, None, None),
         (4, [1.0, 0.0, 0.0], [1.0, 0.0]), (5, [0.0, 0.0], [1.0, 1.0]),
         (6, [], [1.0]), (7, [1.0], []), (8, [0.0], [1.0, 1.0])],
        "i long, a array<float>, b array<float>")
    got = {r["i"]: r["c"] for r in
           df.select("i", similarity.cosine("a", "b").alias("c")).collect()}
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 0.0  # null side
    assert got[4] is None                   # unequal lengths
    assert got[5] == 0.0                    # zero-norm side
    assert got[6] == 0.0 and got[7] == 0.0  # empty side
    assert got[8] == 0.0                    # zero-norm side, unequal lengths


def test_lsh_signature_wide_vectors_match_narrow_prefix_planes(spark):
    # The pre-shipped sign table covers dim <= 1024; wider vectors extend
    # it lazily on the executor with the SAME md5 parity. Check dim 4096
    # works and that its buckets agree with a driver-side sequential-fold
    # reference (the historical expression's exact semantics).
    import math

    dim = 4096
    vecs = [(1, [math.sin(i * 0.7 + 1) for i in range(dim)]),
            (2, [math.cos(i * 1.3) for i in range(dim)])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id",
        similarity.lsh_signature("embedding", num_planes=8).alias("b"))
        .collect()}

    def ref_bucket(v):
        bucket = 0
        for p in range(8):
            signs = similarity._plane_signs_py(p, dim)
            acc = 0.0
            for x, s in zip(v, signs):
                acc += float(np.float32(x)) * s
            if acc > 0:
                bucket |= 1 << p
        return bucket

    import numpy as np
    for vid, v in vecs:
        assert got[vid] == ref_bucket(v)


def test_lsh_sign_table_keeps_one_widest_table():
    # Signs do not depend on the table width, so every width is a prefix
    # slice of the widest table built so far; a narrower width never
    # builds a table of its own.
    import numpy as np

    signs_for = similarity._sign_table(3)
    wide = signs_for(1500)
    assert wide.shape == (1500, 3)
    for d in (1200, 1024, 7):
        narrow = signs_for(d)
        assert np.shares_memory(narrow, wide)
        assert np.array_equal(narrow, wide[:d])
        assert np.array_equal(narrow, np.array(
            [similarity._plane_signs_py(p, d) for p in range(3)]).T)


def test_nondeterministic_score_rejected_in_join_condition(spark):
    # cosine()/lsh_signature() are asNondeterministic() (pins ONE Arrow
    # evaluation); Spark REJECTS non-deterministic expressions inside join
    # conditions. This test pins the allowed consumer shape: project the
    # score/bucket into a column first, then join on the column — which is
    # what every in-repo consumer does. If this test ever fails, Spark
    # lifted the restriction and the docstring caveats can be relaxed.
    from pyspark.errors.exceptions.captured import AnalysisException

    a = _emb(spark, [(1, [1.0, 0.0])])
    b = a.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q"))
    with pytest.raises(AnalysisException):
        a.join(b, similarity.cosine("embedding", "q") > 0.5).collect()
    # The sanctioned shape: score projected to a column, filter/join on it.
    scored = (a.crossJoin(b)
              .select("vec_id", "qid",
                      similarity.cosine("embedding", "q").alias("score")))
    assert scored.filter(F.col("score") > 0.5).count() == 1
