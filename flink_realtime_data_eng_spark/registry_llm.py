"""LLM-pipeline batch queries, first wave (rounds 3-4): dedup, text quality, sketches, sampling, similarity baselines.

Split out of the original registry.py (r9); statement text is
verbatim so per-query content hashes are unchanged.
"""

from __future__ import annotations

from .registry_core import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _docs,
    _emb,
    _events,
    _prep,
    contamination,
    dedup,
    filtering,
    funnel,
    load_table,
    multimodal,
    packing,
    pii,
    rollup,
    similarity,
    sketches,
    stats,
    text,
    windows,
)
from .registry_ops import (  # noqa: F401
    _run_to_memory,
)
from .artifacts import cached_artifact



# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (SURVEY §2.9)
# ---------------------------------------------------------------------------

def x_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


def x_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.1)


def x_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate pairs: containment = |A∩B| / min(|A|,|B|) catches a
    doc pasted inside a longer one, which union-normalized Jaccard scores
    low. Same shingle-overlap core (and LSH candidate gating at scale) as
    the Jaccard verifier."""
    return dedup.containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def x_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(_docs(spark, sf_dir),
                                        num_hashes=16, bands=4, n=3)


def x_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed scale flow: MinHash-LSH candidates verified with exact
    Jaccard, all-pairs work never materialized."""
    return dedup.neardup_pipeline(_docs(spark, sf_dir), num_hashes=16,
                                  bands=4, n=3, threshold=0.5)


def x_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: the verified pair graph collapsed to connected
    components (iterative min-label propagation; oracle = recursive CTE)."""
    return dedup.neardup_clusters(_docs(spark, sf_dir), num_hashes=16,
                                  bands=4, n=3, threshold=0.5)


def x_neardup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus itself: near-dup clusters collapsed to their
    smallest-id canonical, everything else kept — LSH + candidate verify +
    one broadcast anti-join over the full scan."""
    return dedup.neardup_keep(_docs(spark, sf_dir), num_hashes=16,
                              bands=4, n=3, threshold=0.5)


def x_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup candidates: docs with doc_id >= 400 play the
    daily batch, the rest the deduped history; pairs touching a new doc
    surface (cross flagged), old-old pairs are skipped — join cost scales
    with the batch, not the corpus."""
    docs = _docs(spark, sf_dir)
    new_df = docs.filter(F.col("doc_id") >= 400)
    old_df = docs.filter(F.col("doc_id") < 400)
    return dedup.incremental_lsh_candidates(new_df, old_df,
                                            num_hashes=16, bands=4, n=3)


def x_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication forensics: verified near-dup pairs
    attributed to (source, source) — which sources copy each other, the
    input to dedup-priority and crawl-dedup decisions. The pair list is
    duplicate-scale, so its join strategy stays with AQE (broadcast while
    it fits); the source pair is order-normalized so (A,B)==(B,A).
    Reads the persisted edge parquet (``_edges_parquet_dir``) — see
    x_pagerank."""
    docs = _docs(spark, sf_dir)
    pairs = _edges(spark, sf_dir).select("id_a", "id_b")
    src = docs.select(F.col("doc_id"), F.col("source"))
    attributed = (src.withColumnRenamed("source", "src_a")
                  .join(pairs, F.col("doc_id") == F.col("id_a"))
                  .drop("doc_id")
                  .join(src.withColumnRenamed("source", "src_b"),
                        F.col("doc_id") == F.col("id_b")))
    lo = F.least("src_a", "src_b")
    hi = F.greatest("src_a", "src_b")
    return (attributed.select(lo.alias("source_x"), hi.alias("source_y"))
            .groupBy("source_x", "source_y")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("source_x", "source_y"))


def x_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup dashboard row: corpus size, exact-dup count, near-dup
    cluster/member counts, and the final keep count in ONE result —
    the monitoring contract of a production dedup stage. Composes the
    existing exact + near-dup pipelines; each input frame is tiny
    (aggregates / pair-scale), so the combine is a driver-free union of
    1-row aggregates."""
    docs = _docs(spark, sf_dir)
    exact = dedup.exact_dedup(docs)
    clusters = dedup.neardup_clusters(docs, num_hashes=16, bands=4, n=3,
                                      threshold=0.5)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_exact = exact.agg(
        F.count(F.lit(1)).alias("n_distinct_content"),
        F.sum(F.col("n_copies") - 1).alias("n_exact_dup_rows"))
    n_near = clusters.agg(
        F.count(F.lit(1)).alias("n_neardup_members"),
        F.countDistinct("cluster_id").alias("n_neardup_clusters"))
    # kept = all docs minus non-canonical members; exact arithmetic on the
    # cluster aggregate — running neardup_keep here would re-execute the
    # whole LSH+verify pipeline a second time for the same number.
    return (n_docs.crossJoin(n_exact).crossJoin(n_near)
            .select("n_docs", "n_distinct_content", "n_exact_dup_rows",
                    "n_neardup_clusters", "n_neardup_members",
                    (F.col("n_docs") - (F.col("n_neardup_members")
                                        - F.col("n_neardup_clusters")))
                    .alias("n_kept")))


def _clusters_parquet_dir(spark: SparkSession, sf_dir: str) -> str:
    """Near-dup cluster output persisted ONCE per (corpus, params) to a
    cached parquet path — the production layout where a dashboard reads
    yesterday's cluster table instead of re-running LSH+verify+CC."""
    import os

    def build(scratch):
        dedup.neardup_clusters(_docs(spark, sf_dir), num_hashes=16, bands=4,
                               n=3, threshold=0.5) \
            .write.mode("overwrite").parquet(scratch)
    return cached_artifact(
        "clusters", [os.path.join(sf_dir, "documents.parquet")],
        "h16b4n3t0.5", (_clusters_parquet_dir, dedup.neardup_clusters), build)


def _edges_parquet_dir(spark: SparkSession, sf_dir: str) -> str:
    """Verified near-dup PAIR table (LSH candidates → exact Jaccard)
    persisted ONCE per (corpus, params) — the ``_clusters_parquet_dir``
    pattern applied to the edge list. Every graph pass over the duplicate
    similarity graph (x_pagerank / x_triangles / x_kcore) reads this
    parquet instead of re-deriving LSH+verify from raw text per query:
    at 100 TB the edge table is written once by the nightly dedup job and
    each analysis is a scan + joins over ids-only rows. Cold-run parity
    for the build itself stays registered as ``x_neardup_pipeline``."""
    import os

    def build(scratch):
        dedup.neardup_pipeline(_docs(spark, sf_dir), num_hashes=16, bands=4,
                               n=3, threshold=0.5) \
            .write.mode("overwrite").parquet(scratch)
    return cached_artifact(
        "edges", [os.path.join(sf_dir, "documents.parquet")],
        "h16b4n3t0.5", (_edges_parquet_dir, dedup.neardup_pipeline), build)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_edges_parquet_dir(spark, sf_dir))


def x_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_dedup_stats from PERSISTED cluster output: identical dashboard
    row, but the near-dup numbers come from a parquet scan of the
    once-written cluster table rather than recomputing the LSH pipeline
    per refresh — the shape a 100 TB monitoring query must have (the
    recompute form exists as x_dedup_stats for parity with a cold run).
    Exact-dup numbers stay live: one hash aggregate is dashboard-cheap."""
    docs = _docs(spark, sf_dir)
    exact = dedup.exact_dedup(docs)
    clusters = spark.read.parquet(_clusters_parquet_dir(spark, sf_dir))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_exact = exact.agg(
        F.count(F.lit(1)).alias("n_distinct_content"),
        F.sum(F.col("n_copies") - 1).alias("n_exact_dup_rows"))
    n_near = clusters.agg(
        F.count(F.lit(1)).alias("n_neardup_members"),
        F.countDistinct("cluster_id").alias("n_neardup_clusters"))
    return (n_docs.crossJoin(n_exact).crossJoin(n_near)
            .select("n_docs", "n_distinct_content", "n_exact_dup_rows",
                    "n_neardup_clusters", "n_neardup_members",
                    (F.col("n_docs") - (F.col("n_neardup_members")
                                        - F.col("n_neardup_clusters")))
                    .alias("n_kept")))


def x_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard estimated from signature agreement on LSH candidates —
    the k-th-fraction estimator, one signature equi-join instead of a
    shingle re-explode."""
    return dedup.minhash_jaccard_estimate(_docs(spark, sf_dir),
                                          num_hashes=16, bands=4, n=3)


def x_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest freshness report: per event type, latest event time and its
    lag behind the corpus max — the staleness monitor every pipeline
    alert reads. One aggregate + a 1-row corpus-max broadcast."""
    e = _events(spark, sf_dir)
    per_type = e.groupBy("event_type").agg(
        F.max("ts_ms").alias("latest_ts_ms"),
        F.count(F.lit(1)).alias("n_events"))
    corpus = e.agg(F.max("ts_ms").alias("corpus_max_ms"))
    return (per_type.crossJoin(F.broadcast(corpus))
            .select("event_type", "latest_ts_ms", "n_events",
                    (F.col("corpus_max_ms") - F.col("latest_ts_ms"))
                    .alias("staleness_ms"))
            .orderBy("event_type"))


def x_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column null audit over events — the first data-quality query any
    ingest runs: one aggregate, count + null count per column (long
    format so new columns don't change the schema)."""
    e = _events(spark, sf_dir).select("event_id", "user_id", "event_type",
                                      "ts_ms", "value", "props")
    aggs = []
    for c in e.columns:
        aggs.append(F.struct(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(c).isNull().cast("bigint")).alias("n_null")))
    return (e.agg(F.array(*aggs).alias("a"))
            .select(F.explode("a").alias("r"))
            .select("r.col", "r.n_rows", "r.n_null")
            .orderBy("col"))


def x_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir))


def x_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.quality_features(_docs(spark, sf_dir))
    return out.select("doc_id",
                      F.col("n_chars_m").cast("bigint").alias("n_chars_m"),
                      F.col("n_tokens").cast("bigint").alias("n_tokens"),
                      "mean_token_len", "punct_ratio", "stopword_ratio",
                      "quality_score")


def x_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.language_id(_docs(spark, sf_dir))
    casts = [F.col(c).cast("bigint").alias(c) if c.startswith("score_") else F.col(c)
             for c in out.columns]
    return out.select(*casts)


def x_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.norm_stats_by_label(_emb(spark, sf_dir))


def x_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, q, k=5)


def x_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval-augmented fetch: ANN top-k over the embedding corpus
    joined back to the document store for payload metadata — the two-table
    pattern every RAG/index serving path runs. The top-k result is
    pair-scale (queries × k), so the fetch join broadcasts it onto the
    documents scan via AQE; the corpus never shuffles in either stage."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    hits = similarity.brute_force_topk(emb, q, k=5)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "lang", "source", "n_chars")
    return (hits.join(docs, "vec_id")
            .select("query_id", "rk", F.col("vec_id").alias("doc_id"),
                    "score", "lang", "source", "n_chars"))


def x_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding quality report: candidate recall/precision against the
    ground-truth Jaccard pairs (threshold 0.5) — the tuning loop for
    (num_hashes, bands) runs exactly this query on a corpus sample before
    committing to a full-corpus dedup. One row: truth/candidate/TP/FN/FP
    counts plus recall and precision (exact integer counts; ratios derived
    from them, so cross-engine determinism is free). Ground truth is the
    full shingle self-join — sample-scale by design; the candidates reuse
    the production LSH path."""
    docs = _docs(spark, sf_dir)
    cand = (dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=4, n=3)
            .select("id_a", "id_b").withColumn("c", F.lit(1)))
    truth = (dedup.jaccard_pairs(docs, n=3, threshold=0.5)
             .select("id_a", "id_b").withColumn("t", F.lit(1)))
    u = truth.join(cand, ["id_a", "id_b"], "full")
    agg = u.agg(
        F.sum(F.coalesce("t", F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce("c", F.lit(0))).alias("n_cand"),
        F.sum(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
               .otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("t").isNotNull() & F.col("c").isNull(), 1)
               .otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("t").isNull() & F.col("c").isNotNull(), 1)
               .otherwise(0)).alias("fp"))
    return agg.select(
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("fp").cast("bigint").alias("fp"),
        F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)),
                6).alias("recall"),
        F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)),
                6).alias("precision"))


def x_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN, exact-oracle-checked: the md5-parity planes are
    deterministic and the measured sign margin (min |proj| >= 2e-4 across
    every vector × plane at all SFs) is 9 orders above float-association
    noise, so DuckDB reproduces the bucket signatures bit-for-bit (see
    ``_lsh_bucket_sql``)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_bucketed_topk(emb, q, k=5, num_planes=8)


def x_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: the query probes its bucket + all Hamming-1
    buckets (flip one sign bit) — the standard recall lever at
    (planes+1)× probe cost, still exactly oracle-reproducible."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_multiprobe_topk(emb, q, k=5, num_planes=8)


def x_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN, HASH-oracle-checked: the deterministic
    integer-Lloyd trainer (``ivf_topk_exact``) replaces MLlib KMeans —
    e6 fixed-point vectors, md5-ordered seeds, fixed iterations with
    ``sum div count`` centroid updates — so DuckDB replays the centroids,
    cells, probes, and final cosine ranking bit-for-bit (``_ivf_oracle``).
    The MLlib-trained ``ivf_topk`` remains the production-speed variant,
    pytest-checked against brute force.

    ``train_max=512``: Lloyd trains driver-locally on the bounded
    md5-smallest sample (one TakeOrdered + one collect, FAISS-style) and
    the full corpus is distance-assigned ONCE — one corpus-wide pass
    instead of ``iters + 1``, training cost independent of corpus size
    (the r5 verdict's scale fix; the oracle replays the identical sample
    so the hash check is unchanged)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ivf_topk_exact(emb, q, k=5, n_lists=8, n_probe=2,
                                     iters=3, train_max=512)


def x_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact baseline on a bounded slice
    (all-pairs is the verification primitive; the LSH-gated variant below is
    the scale path)."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 500)
    return similarity.embedding_neardup_pairs(emb, threshold=0.3)


def x_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-gated embedding near-dup over the full corpus, exact-oracle-
    checked: recall < 1 by design, but the candidate SET is deterministic
    (md5-parity planes, measured 2e-4 sign margins), so the oracle
    reproduces the same gated pairs exactly. The plane count is
    corpus-adaptive (auto_planes, floor 8: bit-identical at the gate SFs)
    so bucket occupancy — and the within-bucket quadratic term the r9
    sf10 dry-run caught at exponent 1.18/decade — stays bounded; the
    oracle replays the adaptivity via ``_lsh_bucket_sql_adaptive``."""
    return similarity.embedding_neardup_candidates(
        _emb(spark, sf_dir), threshold=0.3, num_planes=8)


def x_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace-ish word tokens + BPE-ish sub-tokens
    (letter runs / digit runs / single punctuation), both pure Catalyst
    regex — map-side only at any scale."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    text.token_count("text").cast("bigint").alias("n_tokens"),
                    text.word_token_count("text").cast("bigint").alias("n_subtokens"))


def x_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, ORACLE-checked: the deterministic fake
    decoder's byte statistics are reproducible from the text's char codes
    in SQL, so this hash-match proves the whole Python/Arrow path
    (binary encode → mapInPandas → FEATURE_SCHEMA) end to end. The
    float32 feature array flattens to doubles (all values < 2^24, exact).

    Arrow/Python stages want FEWER, FATTER partitions than JVM stages: each
    partition spins a Python worker (pandas import + Arrow init), so the
    fixture-scale input is coalesced to 8 before crossing the boundary —
    fat Arrow batches amortize the per-worker overhead. At real scale the
    partition count comes from the data and executors, not this clamp."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir).coalesce(8))
    out = multimodal.extract_features(media, fake=True)
    return out.select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "checksum",
        *[F.element_at("features", i + 1).cast("double").alias(f"f{i}")
          for i in range(8)])


def x_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize plumbing, ORACLE-checked via output-buffer md5: the
    stride sampler / NUL padding is reproducible from the text's chars in
    SQL, so the hash-match proves the binary-in/binary-out Arrow stage."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir).coalesce(8))
    out = multimodal.resize(media, width=8, height=8)
    return out.select("media_id", "width", "height",
                      F.md5("payload").alias("payload_fp"))


def x_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing, ORACLE-checked via per-frame md5 (every
    4th 16-byte chunk is a substring SQL reproduces exactly)."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir).coalesce(8))
    out = multimodal.frame_sample(media, every_n=4, frame_bytes=16)
    return out.select("media_id", "frame_no", F.md5("frame").alias("frame_fp"))


def x_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-energy plumbing, ORACLE-checked exactly: the fake PCM
    reads payload bytes as unsigned 8-bit samples, and the fixture text is
    ASCII, so SQL reproduces each frame's sum-of-squares from char codes."""
    media = multimodal.attach_binary_payload(_docs(spark, sf_dir).coalesce(8))
    return multimodal.audio_energy(media, frame_samples=32)


def x_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style minute/hour/day/total rollup of event counts and
    fixed-point value sums per event_type — ALL resolutions in one shuffle
    (single Expand + hash aggregate), not one groupBy per tier."""
    e = _events(spark, sf_dir).withColumn(
        "v_e4", F.round(F.col("value") * 10000).cast("bigint"))
    return rollup.hierarchical_rollup(
        e, "ts_ms", keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("cnt"),
              F.sum("v_e4").alias("sum_value_e4")])


def x_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment per doc (80/10/10 by md5
    unit hash — stable under corpus growth, no leakage across re-runs),
    plus the per-source split counts a dataset card reports."""
    d = sketches.train_val_test_split(
        _docs(spark, sf_dir).select("doc_id", "source"), key_col="doc_id")
    return (d.groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source", "split"))


def x_global_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-WIDE token offsets via the two-phase distributed prefix sum
    (range-partition → local cumsum → partition totals cumsum broadcast
    back) — no single-partition window anywhere; the global analog of
    x_pack_offsets' per-shard form. Offsets feed shard assignment:
    shard = running_total div budget."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens("text")).cast("bigint").alias("n_tokens"))
    out = stats.global_prefix_sum(d, "n_tokens", "doc_id",
                                  out_col="end_offset")
    return (out.select("doc_id", "n_tokens", "end_offset",
                       (F.col("end_offset") - F.col("n_tokens"))
                       .alias("start_offset"),
                       F.expr("(end_offset - n_tokens) div 4096")
                       .cast("bigint").alias("shard"))
            .orderBy("doc_id"))


def x_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length report: doc counts + token mass per power-of-two
    token-count bucket (the length histogram every corpus card prints).
    One map-side bucket expression + one tiny aggregate; empty docs land
    in bucket -1."""
    d = _docs(spark, sf_dir).select(
        F.size(text.tokens("text")).cast("bigint").alias("n_tokens"))
    bucket = (F.when(F.col("n_tokens") > 0,
                     F.floor(F.log2("n_tokens")).cast("bigint"))
               .otherwise(F.lit(-1)))
    return (d.select(bucket.alias("log2_bucket"), "n_tokens")
            .groupBy("log2_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"))
            .orderBy("log2_bucket"))


def x_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary with term/doc frequencies — explode, one
    hash agg, TakeOrdered; the tokenizer-training first pass."""
    return text.vocab_topk(_docs(spark, sf_dir), k=100)


_SEARCH_TERMS = ["table", "join", "window"]


def x_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND retrieval with TF ranking: docs containing EVERY query
    term, scored by total matched-term frequency. The inverted-index
    shape: explode to (doc, term), semi-restrict to the query terms
    (tiny IN-list, evaluated map-side), one aggregate with a HAVING on
    distinct matched terms — no full-corpus scoring, no UDFs. Top-20 via
    TakeOrderedAndProject."""
    d = _docs(spark, sf_dir)
    tok = (d.select(F.col("doc_id"), F.explode(text.tokens("text")).alias("tok"))
            .filter(F.col("tok").isin(*_SEARCH_TERMS)))
    return (tok.groupBy("doc_id")
            .agg(F.countDistinct("tok").alias("n_terms"),
                 F.count(F.lit(1)).alias("tf_sum"))
            .filter(F.col("n_terms") == len(_SEARCH_TERMS))
            .select("doc_id", "tf_sum")
            .orderBy(F.col("tf_sum").desc(), "doc_id")
            .limit(20))


def x_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per token, document frequency,
    collection frequency, and the posting list as a sorted ``doc:tf``
    string (string form keeps the contract engine-portable). One explode +
    two keyed aggregates on well-distributed token keys; the df floor
    bounds output to common-token scale (a production index keeps all
    tokens but shards postings by token — same plan shape)."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    per_doc = tok.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (per_doc.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("tf").alias("cf"),
                 F.concat_ws(",", F.array_sort(F.collect_list(
                     F.concat_ws(":", F.col("doc_id"), F.col("tf")))))
                  .alias("postings"))
            .filter(F.col("df") >= 10))


def x_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, Lucene-style idf) for the
    standing query terms, OR semantics: any doc matching a term scores.

    Scale shape: hits are the term-filtered explode (tiny next to the
    corpus), per-term df and the (N, avgdl) constants are broadcast
    aggregates, and the only corpus-keyed join attaches doc length to the
    hit rows. Per-term scores scale to exact e6 integers BEFORE the sum so
    the ranking key is order-independent (double summation is not);
    top-20 via TakeOrderedAndProject."""
    d = _docs(spark, sf_dir)
    dl = d.select("doc_id", F.size(text.tokens("text")).alias("dl"))
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    hits = (tok.filter(F.col("tok").isin(*_SEARCH_TERMS))
               .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = hits.groupBy("tok").agg(F.countDistinct("doc_id").alias("dfreq"))
    consts = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").alias("avgdl"))
    scored = (hits.join(F.broadcast(dfreq), "tok")
                  .join(dl, "doc_id")
                  .crossJoin(F.broadcast(consts)))
    idf = F.log((F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
                / (F.col("dfreq") + F.lit(0.5)) + F.lit(1.0))
    denom = (F.col("tf") + F.lit(1.2)
             * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl")))
    term_score = idf * F.col("tf") * F.lit(2.2) / denom
    per_term = scored.select(
        "doc_id", F.round(term_score * F.lit(1000000.0)).cast("bigint")
                   .alias("s_e6"))
    return (per_term.groupBy("doc_id").agg(F.sum("s_e6").alias("score_e6"))
            .orderBy(F.desc("score_e6"), "doc_id").limit(20)
            .select("doc_id", "score_e6",
                    F.round(F.col("score_e6") / F.lit(1000000.0), 6)
                     .alias("bm25")))


def x_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (keyword extraction): two keyed
    aggregates + a term join + partition-local top-k."""
    return text.tfidf_topk(_docs(spark, sf_dir), k=5)


def x_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution entropy (nats, e6 fixed point) — the
    distribution-side gibberish/repetition signal."""
    return text.token_entropy(_docs(spark, sf_dir))


def x_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware perplexity proxy: mean add-one-smoothed corpus bigram
    conditional log-probability per doc (fixed-point e6, order-free sum)."""
    return text.bigram_logprob(_docs(spark, sf_dir))


def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination: overlap pairs between the corpus
    and a held-out slice (doc_id % 50 == 0). Eval shingles broadcast; the
    corpus streams map-side through one explode + hash join."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination.ngram_overlap(tr, ev, n=5, min_shared=1)


def x_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per doc: duplicate-token fraction,
    top-token fraction, top-bigram fraction — explode + two-level agg."""
    return text.repetition_features(_docs(spark, sf_dir))


def x_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hit counts + redacted-text fingerprint per doc (all JVM-side
    regexp; one map pass, no shuffle)."""
    return pii.pii_features(_docs(spark, sf_dir))


def x_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing offsets (seq_len=256) per source shard:
    one prefix-sum window pass, partitioned so no global sort exists."""
    return packing.pack_offsets(_docs(spark, sf_dir), seq_len=256)


def x_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares + uniform-target sampling weights: one tiny
    aggregate + unpartitioned window over the per-source rows."""
    return packing.source_mixture(_docs(spark, sf_dir))


def x_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16 overlap):
    map-side-only posexplode+slice, chunk bodies leave only as md5 fps."""
    return packing.chunk_documents(_docs(spark, sf_dir),
                                   chunk_size=64, overlap=16)


def x_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication report: 8-token spans in ≥2 distinct docs —
    fingerprint map-side, one exact distinct-count aggregate."""
    return dedup.repeated_spans(_docs(spark, sf_dir), n=8, min_docs=2)


def x_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4-style cleaning verdict (length/repetition/stopword/PII/
    dedup) with per-rule audit flags: one scan + one fingerprint window."""
    return filtering.corpus_filter(_docs(spark, sf_dir))


def _symlink_stream_dir(sf_dir: str, filename: str, kind: str) -> str:
    """Per-(file, size, mtime) temp dir holding one symlink to a fixture
    parquet — the file-source stream adapter (the source monitors
    DIRECTORIES only). No data copy; a regenerated fixture changes the
    tag and so invalidates the cached dir. Shared by _docs_stream and
    registry_ext_d._emb_stream."""
    import os
    src = os.path.join(sf_dir, filename)
    return cached_artifact(
        kind, [src], filename, (_symlink_stream_dir,),
        lambda scratch: os.symlink(src, os.path.join(scratch, filename)))


def _docs_stream(spark: SparkSession, sf_dir: str,
                 spread: bool = True) -> DataFrame:
    """documents.parquet as a file-source stream.

    The file source only monitors directories, so the single parquet file
    is exposed through a per-(file,mtime) temp dir of symlinks — no data
    copy, and a regenerated fixture invalidates the cache key."""
    link_dir = _symlink_stream_dir(sf_dir, "documents.parquet", "docs")
    batch = _docs(spark, sf_dir)
    # The file source partitions micro-batches BY FILE (one task per
    # file, however large) — a single-large-file input serializes every
    # stateless map stage before the first exchange. spread=True inserts
    # a round-robin exchange right after the scan: x_filter_stream
    # (map-only sink, no other exchange) measured 64 s -> 5.7 s at 100x
    # SF, x_minhash_stream (heavy explode+hash map) 66 s -> 34 s. The
    # exchange carries FULL text rows, so a consumer whose map stage is
    # cheap relative to one text shuffle (x_dedup_stream: one md5 per
    # row, measured 19 s -> 31 s under spread) opts out with
    # spread=False and lets its keyed aggregation redistribute instead.
    stream = spark.readStream.schema(batch.schema).parquet(link_dir)
    if spread:
        stream = stream.repartition(spark.sparkContext.defaultParallelism)
    return stream


def x_filter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest filter: the documents parquet replayed through the
    file-stream source into the stateless rule flags (no watermark, no
    state store — the micro-batch is pure map work). Oracle = the batch
    rules minus the dedup flag."""
    stream = _docs_stream(spark, sf_dir)
    return _run_to_memory(filtering.corpus_filter_stream(stream), spark)


def x_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on the S1 file-replay source:
    ``dropDuplicatesWithinWatermark`` on the content fingerprint keeps
    dedup state bounded by the watermark horizon (vs an ever-growing
    seen-set). Event time is synthesized per doc (1 s apart by doc_id) so
    the watermark semantics are exercised, not bypassed.

    Output is the surviving fingerprint set ONLY: which representative row
    survives depends on micro-batch arrival order, but the fp set does
    not — so the result is deterministic and hash-matches the batch
    ``DISTINCT md5(norm(text))`` oracle."""
    # spread=False: the map stage is one md5 per row — cheaper than the
    # full-text exchange spread would insert (measured 19 s vs 31 s at
    # 100x SF); the fingerprint aggregation redistributes downstream.
    stream = _docs_stream(spark, sf_dir, spread=False).withColumn(
        "ts", F.timestamp_millis(F.lit(1_700_000_000_000)
                                 + F.col("doc_id") * 1000))
    out = dedup.exact_dedup_stream(stream, "ts", watermark="10 seconds")
    return _run_to_memory(out.select("fp"), spark)


def x_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality signal: mean add-one-smoothed corpus
    unigram log-probability per doc (fixed-point per-term, order-free
    sum)."""
    return text.unigram_logprob(_docs(spark, sf_dir))


def x_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (storage format): map-side
    transform only; quantized vectors compare as md5 fingerprints."""
    return similarity.quantize_int8(_emb(spark, sf_dir))


def x_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout round trip UNDER the oracle gate: events written
    partitioned by event_type (cached per sf_dir), read back through the
    pruned scan, aggregated per user for one partition value. A hash match
    proves the partitioned layout preserves rows/values exactly and the
    partition-column round trip is lossless — the write path as an
    oracle-checked query, not just a unit test."""
    import os
    from .operators.bucketing import write_partitioned
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type",
                                       "ts_ms", "value")
    path = cached_artifact(
        "part", [os.path.join(sf_dir, "events.parquet")], None,
        (x_partitioned_prune, write_partitioned),
        lambda scratch: write_partitioned(ev, scratch, "event_type"))
    back = (spark.read.schema(ev.schema).parquet(path)
            .select(*[f.name for f in ev.schema.fields]))
    return (back.filter(F.col("event_type") == "click")
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_clicks"),
                     F.sum(F.round(F.col("value") * 10_000).cast("bigint"))
                      .alias("sum_value_e4"))
                .orderBy("user_id"))


def x_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((event_type), (day)) — two independent
    one-dimension aggregates in ONE Expand + hash-aggregate pass (neither
    cube nor rollup expresses this set list; the per-row fan-out is 2×,
    never 2 scans). grouping_id disambiguates rolled-up NULLs, as in
    q_returns_cube."""
    e = (_events(spark, sf_dir)
         .withColumn("day", F.expr("ts_ms div 86400000").cast("bigint")))
    return (e.groupingSets([["event_type"], ["day"]], "event_type", "day")
             .agg(F.grouping_id().cast("bigint").alias("gid"),
                  F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.round(F.col("value") * 10_000).cast("bigint"))
                   .alias("sum_value_e4"))
             .orderBy("gid", "event_type", "day"))


def x_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout round trip UNDER the oracle gate: events
    written range-partitioned + sorted on the interleaved
    (user_id, day) code (cached per sf_dir), read back through a 2-D box
    predicate on the RAW columns, aggregated. The hash match proves the
    layout is lossless and the box filter semantics survive the
    round trip; the row-group-skip pytest proves the layout actually
    prunes (footer min/max stats, both dimensions)."""
    import os
    from .operators.bucketing import write_zordered
    ev = (_events(spark, sf_dir)
          .select("event_id", "user_id", "event_type", "ts_ms", "value")
          .withColumn("day", F.expr("ts_ms div 86400000").cast("bigint")))
    path = cached_artifact(
        "zord", [os.path.join(sf_dir, "events.parquet")], None,
        (x_zorder_prune, write_zordered),
        lambda scratch: write_zordered(ev, scratch, "user_id", "day", bits=8))
    back = (spark.read.schema(ev.schema).parquet(path)
            .select(*[f.name for f in ev.schema.fields]))
    lo_u, hi_u, lo_d, hi_d = 100, 140, 19730, 19739
    return (back.filter((F.col("user_id") >= lo_u) & (F.col("user_id") <= hi_u)
                        & (F.col("day") >= lo_d) & (F.col("day") <= hi_d))
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.round(F.col("value") * 10_000).cast("bigint"))
                      .alias("sum_value_e4"))
                .orderBy("event_type"))


def x_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization (Spark's session_window(col, expr)
    capability, lag form): a 'click' holds its session open 30 min, any
    other event 10 min — per-session aggregates per user."""
    gap = (F.when(F.col("event_type") == "click", F.lit(1_800_000))
            .otherwise(F.lit(600_000)))
    labeled = windows.sessionize_dynamic(
        _events(spark, sf_dir)
        .select("user_id", "event_type", "ts_ms", "event_id"),
        ["user_id"], "ts_ms", gap, order_by=["event_id"])
    return (labeled.groupBy("user_id", "session_start_ms")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("ts_ms").alias("last_ts_ms"))
            .orderBy("user_id", "session_start_ms"))


def x_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI over documents (phrase-mining primitive): map-side
    zip_with bigrams, two aggregates, vocabulary-sized broadcast joins."""
    return text.collocations(_docs(spark, sf_dir), min_count=5)


def x_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event lag features (feature-engineering primitive): previous
    value and inter-event gap per user — one key-partition window pass,
    exact integer/fixed-point outputs."""
    e = _events(spark, sf_dir).select("user_id", "ts_ms", "event_id", "value")
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    prev_v = F.lag(F.round(F.col("value") * 10_000).cast("bigint")).over(w)
    prev_t = F.lag("ts_ms").over(w)
    return e.select(
        "user_id", "ts_ms", "event_id",
        F.round(F.col("value") * 10_000).cast("bigint").alias("value_e4"),
        F.coalesce(prev_v, F.lit(-1)).alias("prev_value_e4"),
        F.coalesce(F.col("ts_ms") - prev_t, F.lit(-1)).alias("gap_ms"))


def x_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per 6 h tumbling window — Spark plans the
    windowed COUNT(DISTINCT) as the two-phase expand aggregate (partial
    distinct map-side), never a per-window row collect."""
    e = _events(spark, sf_dir)
    return windows.tumbling_agg(
        e, "ts_ms", 21_600_000,
        aggs=[F.countDistinct("user_id").alias("n_users"),
              F.count(F.lit(1)).alias("n_events")])


def x_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k: the 3 most active users per 6 h tumbling window —
    one windowed count aggregate, then a rank window partitioned BY THE
    TIME WINDOW (partition-local top-k; adding the window key to the rank
    partition is what keeps this scalable — a global rank would funnel)."""
    from pyspark.sql import Window as W
    counts = windows.tumbling_agg(
        _events(spark, sf_dir), "ts_ms", 21_600_000, keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")])
    w = W.partitionBy("window_start_ms").orderBy(
        F.col("n_events").desc(), F.col("user_id"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .orderBy("window_start_ms", "rk"))


def x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profiling report — the data-quality staple run before
    any pipeline trusts a new drop: per column, row/null/distinct counts
    and min/max (numerics as exact e6-scaled integers, strings raw, so the
    contract is engine-portable with no float-formatting ambiguity).

    Scale shape: ONE wide aggregate computes every metric in a single
    corpus pass (the multi-countDistinct expands rows by #columns before
    the partial agg — a constant-factor map-side cost, not an extra scan),
    then a stack() pivots the 1-row result to long form driver-free."""
    e = _events(spark, sf_dir)
    num_cols = ["event_id", "user_id", "ts_ms"]
    dbl_cols = ["value"]
    str_cols = ["event_type", "props"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + dbl_cols + str_cols:
        aggs += [F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                  .alias(f"{c}__nn"),
                 F.countDistinct(c).alias(f"{c}__nd")]
    for c in num_cols:
        aggs += [(F.min(c) * 1_000_000).cast("bigint").alias(f"{c}__mn"),
                 (F.max(c) * 1_000_000).cast("bigint").alias(f"{c}__mx")]
    for c in dbl_cols:
        aggs += [F.round(F.min(c) * 1_000_000).cast("bigint")
                  .alias(f"{c}__mn"),
                 F.round(F.max(c) * 1_000_000).cast("bigint")
                  .alias(f"{c}__mx")]
    for c in str_cols:
        aggs += [F.min(c).alias(f"{c}__smn"), F.max(c).alias(f"{c}__smx")]
    wide = e.agg(*aggs)
    parts = []
    for c in num_cols + dbl_cols:
        parts.append(f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx, "
                     "CAST(NULL AS STRING), CAST(NULL AS STRING)")
    for c in str_cols:
        parts.append(f"'{c}', {c}__nn, {c}__nd, CAST(NULL AS BIGINT), "
                     f"CAST(NULL AS BIGINT), {c}__smn, {c}__smx")
    n = len(num_cols) + len(dbl_cols) + len(str_cols)
    stacked = wide.selectExpr(
        "n_rows",
        f"stack({n}, {', '.join(parts)}) AS "
        "(col_name, n_null, n_distinct, min_e6, max_e6, min_str, max_str)")
    return stacked.select("col_name", "n_rows",
                          F.col("n_null").cast("bigint").alias("n_null"),
                          F.col("n_distinct").cast("bigint")
                           .alias("n_distinct"),
                          "min_e6", "max_e6", "min_str", "max_str")


def x_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill — the hypertable op the event table
    invites: per user, an hourly grid from first to last observation,
    each hour carrying its event count and the last-observed value
    (forward-filled across empty hours).

    Scale shape: the hourly "close" is ONE hash aggregate
    (``max(struct(ts, id, value))`` — no per-hour window sort); the grid
    explodes a bounded ``sequence`` per user (span-hours, data-independent
    fan-out); the forward fill is ``last(ignorenulls)`` over a per-user
    window ordered by hour — grid-sized input, never raw events. No
    corpus-wide sort anywhere."""
    e = _events(spark, sf_dir)
    hourly = (e.groupBy("user_id",
                        F.floor(F.col("ts_ms") / 3_600_000).cast("bigint")
                         .alias("h"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.max(F.struct("ts_ms", "event_id", "value")).alias("m"))
               .select("user_id", "h", "n_events",
                       F.col("m.value").alias("close")))
    spans = hourly.groupBy("user_id").agg(F.min("h").alias("h0"),
                                          F.max("h").alias("h1"))
    grid = spans.select("user_id",
                        F.explode(F.sequence("h0", "h1")).alias("h"))
    joined = grid.join(hourly, ["user_id", "h"], "left")
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("h")
    return joined.select(
        "user_id", (F.col("h") * 3_600_000).cast("bigint").alias("hour_ms"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint")
         .alias("n_events"),
        F.round(F.last("close", ignorenulls=True).over(w), 6)
         .alias("value_ffill"))


def x_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction — the CDC/upsert read primitive
    (mirror of what a MERGE materializes): each user's most recent event
    wins, ties broken by event_id.

    Scale shape: ONE hash aggregate of ``max(struct(ts, id, payload))``
    (struct max compares fieldwise, so the ordering is total and
    deterministic) — partial aggregation halves shuffle volume and there is
    no per-key window sort; the window row_number form shuffles the same
    rows but sorts every partition. The aggregate IS the compaction."""
    e = _events(spark, sf_dir)
    latest = (e.groupBy("user_id")
               .agg(F.max(F.struct("ts_ms", "event_id", "event_type",
                                   "value")).alias("m")))
    return latest.select(
        "user_id", F.col("m.ts_ms").alias("ts_ms"),
        F.col("m.event_id").alias("event_id"),
        F.col("m.event_type").alias("event_type"),
        F.round(F.col("m.value"), 6).alias("value"))


def x_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional source interleaving: the training-order
    shuffle. Each doc gets a per-source sequence number r (md5-hash order,
    so the permutation is reproducible) and a stride position
    ``(r - 0.5) / n_source`` — sorting by it round-robins sources
    proportionally to their size, so a consumer reading in position order
    sees the mixture ratio in every prefix.

    Scale note: ranks here come from a per-source window (fine while
    source count × docs-per-source fits a task after AQE split); at
    corpus scale swap the rank for the two-phase distributed prefix sum
    (`operators/stats.py:global_prefix_sum`) keyed by source — the
    position formula is unchanged."""
    d = _docs(spark, sf_dir)
    from pyspark.sql import Window as W
    from .functions.dedup import _md5_hash32
    h = _md5_hash32("ilv", F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = d.select("doc_id", "source",
                      F.row_number().over(w).alias("r"))
    n_s = ranked.groupBy("source").agg(F.max("r").alias("n_source"))
    return (ranked.join(F.broadcast(n_s), "source")
            .select("doc_id", "source", F.col("r").cast("bigint").alias("r"),
                    F.col("n_source").cast("bigint").alias("n_source"),
                    F.round((F.col("r") - F.lit(0.5))
                            / F.col("n_source"), 6).alias("position")))


def x_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session labeling (1 h gap, same rule as a4's aggregate
    form): gaps-and-islands over one user-partition shuffle."""
    out = windows.sessionize(_events(spark, sf_dir), ["user_id"], "ts_ms",
                             3_600_000, order_by=["event_id"])
    return out.select("event_id", "user_id", "ts_ms",
                      "session_start_ms", "event_seq")


def x_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (Manku et al. WWW 2007): 60-bit
    signature, distance ≤3 pairs must agree exactly on one of C(6,3)=20
    3-slice combinations ⇒ 30-bit join keys (expected occupancy ~1 to
    10^10 docs — the single-slice 8-bit-key form was the r9 sf10 dry-run's
    quadratic class), exact bit_count verify. Oracle is the brute-force
    all-pairs form — proving the combination banding is lossless."""
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir),
                                       bands=6, max_hamming=3, bits=60)


def x_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1 h activity features (RANGE frame per row —
    the rolling-feature primitive tumbling windows can't express)."""
    return windows.trailing_agg(_events(spark, sf_dir), ["user_id"],
                                "ts_ms", 3_600_000, "value")


def x_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation segmentation: INTERSECT (users who both clicked and
    purchased) and EXCEPT (clicked but never purchased) — Catalyst plans
    both as semi/anti joins over the distinct key sets, no row blowup.
    Output: one row per user with the segment label."""
    e = _events(spark, sf_dir)
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    both = clickers.intersect(buyers).withColumn("segment", F.lit("click_and_buy"))
    # subtract = EXCEPT DISTINCT. exceptAll would be a bug here: a user
    # with 5 clicks and 2 purchases survives the multiset difference
    # (5-2=3 occurrences) and lands in BOTH segments.
    only = clickers.subtract(buyers).withColumn("segment", F.lit("click_no_buy"))
    return both.unionByName(only).orderBy("segment", "user_id")


def x_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts per event type: exact quartiles broadcast
    back onto the scan for a map-side flag — the numeric data-quality
    gate."""
    return stats.iqr_outliers(_events(spark, sf_dir), "event_type", "value")


def x_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic over events(event_type, user_id): one
    (col,value) aggregate + two-level bucketed top-k + broadcast stats —
    no per-column single-partition funnel anywhere."""
    return stats.key_skew_profile(_events(spark, sf_dir),
                                  ["event_type", "user_id"], k=10)


def x_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p90/p99 of event value per type: per-group sort inside
    ONE hash aggregate, never a global sort."""
    return stats.exact_group_quantiles(
        _events(spark, sf_dir), ["event_type"], "value")


def x_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over events.user_id (k=256): one hash
    projection + TakeOrdered(k) — the 100 TB answer to COUNT DISTINCT."""
    return sketches.kmv_distinct(_events(spark, sf_dir), "user_id", k=256)


def x_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% document sample keyed on doc_id — map-side filter,
    identical row choice on every engine/run."""
    return sketches.hash_sample(_docs(spark, sf_dir), "doc_id", 0.1) \
        .select("doc_id", "lang", "source")


def x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement: 100 docs drawn proportional to
    length (n_chars) via deterministic Efraimidis-Spirakis scores — the
    quality/length-weighted corpus draw a training mix needs. Map-side
    score + TakeOrderedAndProject; no global sort."""
    d = _docs(spark, sf_dir)
    out = sketches.weighted_sample_topk(d, key_col="doc_id",
                                        weight_col="n_chars", k=100)
    return out.select("doc_id", "source", "n_chars", "score")


def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep ALL rare purchases, 5% of
    views, 20% of everything else — the class-rebalance primitive."""
    out = sketches.stratified_hash_sample(
        _events(spark, sf_dir), strata_col="event_type", key_col="event_id",
        rates={"purchase": 1.0, "view": 0.05}, default_rate=0.2)
    return out.select("event_id", "user_id", "event_type")


def x_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: build a bitmap over the filtered
    customer keys (the small build side), map-side prune orders BEFORE any
    exchange, then an exact semi-join clears the Bloom's false positives —
    result byte-identical to the plain semi-join, but at 100 TB the fact
    scan ships only the ~1/segment fraction that can match. The explicit,
    tunable form of AQE's InjectRuntimeFilter."""
    cust = (load_table(_prep(spark), sf_dir, "customer")
            .where(F.col("c_mktsegment") == "BUILDING"))
    orders = load_table(_prep(spark), sf_dir, "orders")
    hit = sketches.bloom_semi_join(orders, cust, "o_custkey", "c_custkey")
    return (hit.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 10000).cast("bigint"))
                  .cast("bigint").alias("revenue_e4"))
            .orderBy("o_orderpriority"))


def x_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries: per-user event counts estimated
    from a 4x256 sketch whose shuffle is bounded by the SKETCH size (not
    the key cardinality), probed for a 10-user watchlist and compared to
    the exact counts — overcount shows the collision inflation CMS trades
    for its fixed footprint. md5 bucket hashes make the sketch (and so
    the estimates) bit-identical in the SQL oracle."""
    e = _events(spark, sf_dir)
    vals = e.select("user_id")
    sk = sketches.cms_sketch(vals, "user_id", depth=4, width=256)
    watch = vals.where(F.col("user_id") < 10).distinct()
    est = sketches.cms_estimate(watch, "user_id", sk, depth=4, width=256)
    exact = (vals.where(F.col("user_id") < 10).groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_exact")))
    return (est.join(exact, "user_id")
            .select("user_id", F.col("n_exact").cast("bigint").alias("n_exact"),
                    "cms_est",
                    (F.col("cms_est") - F.col("n_exact")).cast("bigint")
                    .alias("overcount"))
            .orderBy("user_id"))


def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters without a full-vocabulary groupBy:
    per-partition candidate generation (pigeonhole: a token with global
    count >= T has local count >= T/P somewhere) + exact count restricted
    to candidates — the remaining shuffle carries candidate tokens only.
    The candidate pass is partition-local state, so it runs as
    Arrow-batched mapInPandas; the exact verify makes the output
    partitioning-invariant and oracle-checkable."""
    toks = _docs(spark, sf_dir).select(
        F.explode(text.tokens("text")).alias("tok"))
    # load_table repartitions the doc scan to defaultParallelism and the
    # explode is map-side, so defaultParallelism IS the token frame's
    # partition count — passing it skips the .rdd introspection that
    # would execute the repartition shuffle twice under AQE.
    return (sketches.heavy_hitters(
                toks, "tok", threshold=700,
                num_partitions=spark.sparkContext.defaultParallelism)
            .orderBy("tok"))


def x_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup with document reconstruction (the
    sub-document stage between exact and near dedup): keep the globally
    first occurrence of every 8-token chunk, stitch survivors back per
    doc. One chunking explode + one high-cardinality window + one
    re-aggregation."""
    return dedup.paragraph_dedup(_docs(spark, sf_dir), chunk_tokens=8)


def x_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite strict-contiguity pattern match (Flink CEP
    begin('view').next('click').next('purchase').within(24h) analog):
    stacked lead() windows on ONE user-partition sort detect every
    position whose consecutive event types equal the pattern."""
    return funnel.sequence_match(_events(spark, sf_dir),
                                 ["view", "click", "purchase"],
                                 within_ms=86_400_000)


def x_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from the event log: collapse each
    user's stream into (value, valid_from, valid_to, is_current) validity
    intervals — change detection via lag, interval close via lead over
    the already-collapsed change points."""
    return funnel.scd2_intervals(_events(spark, sf_dir))


def x_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply — the missing piece next to latest-per-key
    compaction (x_compact_latest): a change log with DELETES. Events play
    the log per user ('error' = delete marker, everything else = upsert
    of value); the applied state is each user's LAST operation if it was
    an upsert, or absent if the tombstone came last.

    One ``max(struct(ts, id, op, payload))`` hash aggregate + a map-side
    tombstone filter — same single-shuffle shape as the compaction, which
    is exactly how a MERGE materializes at 100 TB (never a per-key loop).
    """
    e = _events(spark, sf_dir)
    last = (e.groupBy("user_id")
            .agg(F.max(F.struct("ts_ms", "event_id", "event_type", "value"))
                 .alias("m")))
    return (last.where(F.col("m.event_type") != "error")
            .select("user_id", F.col("m.ts_ms").alias("ts_ms"),
                    F.col("m.event_id").alias("event_id"),
                    F.col("m.event_type").alias("last_op"),
                    F.round(F.col("m.value"), 6).alias("value")))


def x_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS trick, token-granular):
    a chunk boundary falls AFTER any token whose hash ≡ 0 (mod 8), so
    boundaries depend on content, not position — inserting a token early
    in a document shifts fixed-size chunk frames (x_paragraph_dedup's
    weakness) but leaves every later CDC chunk identical, which is what
    makes chunk-level dedup robust to edits.

    Plan: tokenize map-side, per-doc running boundary count (window over
    (doc, position) — partitioned by doc, so it spreads), group tokens
    into chunks, fingerprint, then count cross-corpus duplication per
    chunk fingerprint. Output: one row per distinct chunk with n_docs /
    n_occurrences, duplicated chunks only (n_occurrences > 1)."""
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " "))
        .alias("pos", "tok"))
    h = dedup._md5_hash32("cdc", F.col("tok"))
    w = (W.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(W.unboundedPreceding, -1))
    # chunk id = number of boundary tokens strictly BEFORE this one: the
    # boundary token closes its own chunk.
    marked = toks.withColumn("is_b", (h % 8 == 0).cast("bigint"))
    chunked = marked.withColumn(
        "chunk_idx", F.coalesce(F.sum("is_b").over(w), F.lit(0)))
    chunks = (chunked.groupBy("doc_id", "chunk_idx")
              .agg(F.concat_ws(
                  " ",
                  F.transform(F.array_sort(F.collect_list(
                      F.struct("pos", "tok"))),
                      lambda x: x["tok"])).alias("chunk")))
    return (chunks.groupBy(F.md5("chunk").alias("chunk_fp"))
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .where(F.col("n_occurrences") > 1))


def x_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (the materialized-view merge):
    daily partials (cnt, sum, min, max) merged into calendar-month
    aggregates WITHOUT touching raw rows again — count→sum, sum→sum,
    min→min, max→max are decomposable, the algebra that makes MV/rollup
    refresh possible at 100 TB (a monthly refresh reads ~30 partial rows
    per key, not a month of raw events). avg is carried as (sum, cnt) and
    derived at the end — the standard treatment of non-decomposable
    aggregates. The oracle computes the monthly numbers directly from raw
    events; equality IS the merge-correctness proof."""
    e = _events(spark, sf_dir).withColumn(
        "v_e4", F.round(F.col("value") * 10000).cast("bigint"))
    day = (F.floor(F.col("ts_ms") / 86_400_000) * 86_400_000).cast("bigint")
    daily = (e.groupBy("event_type", day.alias("day_ms"))
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.sum("v_e4").alias("sum_e4"),
                  F.min("v_e4").alias("min_e4"),
                  F.max("v_e4").alias("max_e4")))
    month = F.unix_millis(F.date_trunc(
        "month", F.timestamp_millis(F.col("day_ms"))))
    return (daily.groupBy("event_type", month.alias("month_ms"))
            .agg(F.sum("cnt").cast("bigint").alias("cnt"),
                 F.sum("sum_e4").cast("bigint").alias("sum_value_e4"),
                 F.min("min_e4").cast("bigint").alias("min_value_e4"),
                 F.max("max_e4").cast("bigint").alias("max_value_e4"))
            .withColumn("avg_value",
                        F.round(F.col("sum_value_e4") / F.col("cnt") / 1e4, 6))
            .orderBy("event_type", "month_ms"))


def x_disorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile — the measurement that picks W1's
    bounded-out-of-orderness delay: per event_type, how many events
    arrive (arrival order = event_id, the generator's emit order) with an
    event time BEHIND the running maximum, and how far behind (max and
    mean regression). A stream with max_late_ms ≤ D is fully captured by
    ``withWatermark(ts, D)``.

    The running max is the grouped two-phase prefix max
    (``stats.global_prefix_max(group_cols=["event_type"])``) — per-type
    rows never funnel through one task, so the registered (and driver-
    hash-checked) form IS the 100 TB shape. Set
    ``SPARK_GRAFT_DISORDER_WINDOW=1`` to run the plain per-type ordered
    window instead (the fixture-scale comparison form; identical output,
    asserted by tests/test_scale_shapes.py)."""
    import os as _os
    e = _events(spark, sf_dir).select("event_type", "event_id", "ts_ms")
    if _os.environ.get("SPARK_GRAFT_DISORDER_WINDOW") == "1":
        from pyspark.sql import Window as W
        w = (W.partitionBy("event_type").orderBy("event_id")
             .rowsBetween(W.unboundedPreceding, -1))
        late = e.withColumn("prev_max", F.max("ts_ms").over(w))
    else:
        late = stats.global_prefix_max(e, "ts_ms", "event_id",
                                       out_col="prev_max", inclusive=False,
                                       group_cols=["event_type"])
    late = (late.withColumn("late_ms",
                        F.greatest(F.col("prev_max") - F.col("ts_ms"),
                                   F.lit(0)))
            .na.fill({"late_ms": 0}))
    return (late.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum((F.col("late_ms") > 0).cast("bigint"))
                  .cast("bigint").alias("n_late"),
                 F.max("late_ms").cast("bigint").alias("max_late_ms"),
                 F.sum("late_ms").cast("bigint").alias("sum_late_ms"))
            .withColumn("late_frac",
                        F.round(F.col("n_late") / F.col("n_events"), 6))
            .orderBy("event_type"))


_PIVOT_TYPES = ["view", "click", "purchase", "signup", "error"]


def x_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): melt the daily pivot back into
    (day, type, cnt) rows — a pure map-side expand, zero cells kept as
    explicit rows, proving the pivot/unpivot round trip."""
    e = _events(spark, sf_dir).withColumn(
        "day_ms", (F.floor(F.col("ts_ms") / 86_400_000) * 86_400_000)
        .cast("bigint"))
    wide = stats.pivot_counts(e, "day_ms", "event_type", _PIVOT_TYPES)
    return stats.unpivot_counts(wide, "day_ms", _PIVOT_TYPES)
