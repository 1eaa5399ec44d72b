"""Extended queries, round 10+ (registration-order chunk D).

New operators land here; chunks A-C are frozen at their r9 split so
per-query content hashes stay stable.
"""

from __future__ import annotations

from .registry_core import (  # noqa: F401
    DataFrame,
    F,
    ORACLES,
    QUERIES,
    SparkSession,
    _H32,
    _docs,
    _emb,
    _events,
    similarity,
    text,
)

from .artifacts import cached_artifact
from .registry_catalog import _QF_TOKS as _QF_TOKS_D  # noqa: E402 — shared
# token regex (same engine-side tokens() the quality-family oracles replay)

# The DSIR TRAIN block, shared verbatim by the full-corpus scorer and the
# persisted-serving oracle: hashed-bucket token stream, smoothed bucket
# counts, 1-row totals, and the single-rounding-point e6 weight table.
_DSIR_TRAIN_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_tgt,
         {_H32.format(x="concat('dw', ':', tok)")} % 1024 AS bucket
  FROM (SELECT doc_id, lang, unnest({_QF_TOKS_D}) AS tok FROM documents)
), counts AS (
  SELECT bucket, count(*) AS n_raw,
         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS n_tgt
  FROM toks GROUP BY 1
), totals AS (
  SELECT SUM(n_raw) AS tot_raw, SUM(n_tgt) AS tot_tgt FROM counts
), w AS (
  SELECT bucket,
         CAST(round((ln(CAST(n_tgt + 1 AS DOUBLE) / (tot_tgt + 1024))
                     - ln(CAST(n_raw + 1 AS DOUBLE) / (tot_raw + 1024)))
                    * 1000000) AS BIGINT) AS w_e6
  FROM counts CROSS JOIN totals
)"""


def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS'23): per-doc hashed
    bag-of-words log-likelihood ratio between the lang='en' target slice
    and the raw corpus — the pretraining-data resampling signal. One
    token explode, one |buckets|-bounded aggregate, broadcast weight
    join; no vocabulary pass (functions/text.py:dsir_weights)."""
    return text.dsir_weights(_docs(spark, sf_dir), target_col="lang",
                             target_value="en", buckets=1024)


QUERIES["x_dsir_weights"] = x_dsir_weights

ORACLES["x_dsir_weights"] = f"""{_DSIR_TRAIN_SQL}, per_doc AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w.w_e6) AS BIGINT) AS weight_e6
  FROM toks t JOIN w USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.weight_e6, 0) AS BIGINT) AS weight_e6,
       coalesce(p.weight_e6, 0) > 0 AS target_like
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


def x_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=4, 2 iterations, k-lowest-id init)
    over the embedding corpus in exact e6-integer arithmetic — the
    cluster-balanced-curation primitive; assignment joins a BROADCAST
    k x dims centroid table, updates are |k * dims|-bounded aggregates
    (functions/similarity.py:kmeans_assign)."""
    return similarity.kmeans_assign(_emb(spark, sf_dir), k=4, iters=2)


QUERIES["x_kmeans_assign"] = x_kmeans_assign

_KM_V = """
  SELECT vec_id, i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 100000)) AS i) idx
  WHERE i <= len(embedding)
"""

_KM_STEP = """
, d{it} AS (
  SELECT v.vec_id, c.cluster, SUM((v.v - c.c) * (v.v - c.c)) AS dist
  FROM v JOIN c{prev} c USING (dim) GROUP BY 1, 2
), a{it} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) AS rk
    FROM d{it}) WHERE rk = 1
), s{it} AS (
  SELECT a.cluster, v.dim, SUM(v.v) AS s, count(*) AS n
  FROM v JOIN a{it} a USING (vec_id) GROUP BY 1, 2
), c{it} AS (
  SELECT c.cluster, c.dim,
         coalesce(((s.s + 1000000000 * s.n) // s.n) - 1000000000, c.c) AS c
  FROM c{prev} c LEFT JOIN s{it} s
    ON c.cluster = s.cluster AND c.dim = s.dim
)"""

ORACLES["x_kmeans_assign"] = f"""
WITH v AS ({_KM_V}
), init AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
  FROM embeddings ORDER BY vec_id LIMIT 4
), c0 AS (
  SELECT i.cluster, v.dim, v.v AS c FROM v JOIN init i USING (vec_id)
){_KM_STEP.format(it=1, prev=0)}{_KM_STEP.format(it=2, prev=1)}
, dF AS (
  SELECT v.vec_id, c.cluster, SUM((v.v - c.c) * (v.v - c.c)) AS dist
  FROM v JOIN c2 c USING (dim) GROUP BY 1, 2
)
SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, CAST(dist AS BIGINT) AS dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist, cluster) AS rk
  FROM dF) WHERE rk = 1
ORDER BY vec_id
"""


def x_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PC1 projection of the embedding corpus — deterministic power
    iteration on the exact-integer mean-centered second-moment matrix
    (the 1-D triage axis for embedding-space curation). Corpus work is
    one map-side pair-product flatten collapsed to a |d^2|-bounded
    aggregate plus a literal-inlined projection scan; the 4096-int
    eigensolve is a bounded driver artifact like the PQ codebooks
    (functions/similarity.py:pca_project)."""
    return similarity.pca_project(_emb(spark, sf_dir), iters=6)


QUERIES["x_pca_project"] = x_pca_project

_PCA_STEP = """
, w{it} AS (
  SELECT c.i, SUM(c.c * p.v) AS w FROM cov c JOIN v{prev} p ON c.j = p.i
  GROUP BY 1
), s{it} AS (
  SELECT max(abs(w)) // 1000000 AS sc FROM w{it}
), v{it} AS (
  SELECT i, CASE WHEN sc > 0 THEN w // sc ELSE w END AS v
  FROM w{it} CROSS JOIN s{it}
)"""

ORACLES["x_pca_project"] = f"""
WITH v AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 100000)) AS i) idx
  WHERE i <= len(embedding)
), m AS (
  SELECT dim, SUM(x) // count(*) AS m FROM v GROUP BY 1
), xc AS (
  SELECT v.vec_id, v.dim, v.x - m.m AS x FROM v JOIN m USING (dim)
), cov AS (
  SELECT a.dim AS i, b.dim AS j,
         (SUM(a.x * b.x) // count(*)) // 1000000 AS c
  FROM xc a JOIN xc b USING (vec_id) GROUP BY 1, 2
), v0 AS (
  SELECT dim AS i, CAST(1000000 AS BIGINT) AS v FROM m
){"".join(_PCA_STEP.format(it=k, prev=k - 1) for k in range(1, 7))}
SELECT x.vec_id, CAST(SUM(x.x * e.v) AS BIGINT) AS pc1
FROM xc x JOIN v6 e ON x.dim = e.i
GROUP BY 1 ORDER BY vec_id
"""


def x_kmeans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental k-means maintenance: centroids Lloyd-trained on the
    base corpus (vec_id % 10 != 0), then the 10% delta batch assigns and
    moves touched centroids to the exact merged integer mean — one delta
    pass + |k x dims| arithmetic, no base re-train; final union
    assignment is one consistent clustering
    (functions/similarity.py:kmeans_incremental)."""
    emb = _emb(spark, sf_dir)
    return similarity.kmeans_incremental(
        emb.filter(F.col("vec_id") % 10 != 0),
        emb.filter(F.col("vec_id") % 10 == 0), k=4, iters=2)


QUERIES["x_kmeans_incremental"] = x_kmeans_incremental

_KMI_STEP = """
, d{it} AS (
  SELECT b.vec_id, c.cluster, SUM((b.v - c.c) * (b.v - c.c)) AS dist
  FROM vb b JOIN c{prev} c USING (dim) GROUP BY 1, 2
), a{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) AS rk
    FROM d{it}) WHERE rk = 1
), s{it} AS (
  SELECT a.cluster, b.dim, SUM(b.v) AS s, count(*) AS n
  FROM vb b JOIN a{it} a USING (vec_id) GROUP BY 1, 2
), c{it} AS (
  SELECT c.cluster, c.dim,
         coalesce(((s.s + 1000000000 * s.n) // s.n) - 1000000000, c.c) AS c
  FROM c{prev} c LEFT JOIN s{it} s
    ON c.cluster = s.cluster AND c.dim = s.dim
)"""

ORACLES["x_kmeans_incremental"] = f"""
WITH vall AS ({_KM_V}
), vb AS (
  SELECT * FROM vall WHERE vec_id % 10 <> 0
), vd AS (
  SELECT * FROM vall WHERE vec_id % 10 = 0
), init AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
  FROM embeddings WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 4
), c0 AS (
  SELECT i.cluster, b.dim, b.v AS c FROM vb b JOIN init i USING (vec_id)
){_KMI_STEP.format(it=1, prev=0)}{_KMI_STEP.format(it=2, prev=1)}
, dB AS (
  SELECT b.vec_id, c.cluster, SUM((b.v - c.c) * (b.v - c.c)) AS dist
  FROM vb b JOIN c2 c USING (dim) GROUP BY 1, 2
), aB AS (
  SELECT vec_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) AS rk
    FROM dB) WHERE rk = 1
), dD AS (
  SELECT b.vec_id, c.cluster, SUM((b.v - c.c) * (b.v - c.c)) AS dist
  FROM vd b JOIN c2 c USING (dim) GROUP BY 1, 2
), aD AS (
  SELECT vec_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) AS rk
    FROM dD) WHERE rk = 1
), merged AS (
  SELECT u.cluster, u.dim, SUM(u.v) AS s, count(*) AS n FROM (
    SELECT a.cluster, b.dim, b.v FROM vb b JOIN aB a USING (vec_id)
    UNION ALL
    SELECT a.cluster, b.dim, b.v FROM vd b JOIN aD a USING (vec_id)
  ) u GROUP BY 1, 2
), c3 AS (
  SELECT c.cluster, c.dim,
         coalesce(((m.s + 1000000000 * m.n) // m.n) - 1000000000, c.c) AS c
  FROM c2 c LEFT JOIN merged m
    ON c.cluster = m.cluster AND c.dim = m.dim
), dF AS (
  SELECT b.vec_id, c.cluster, SUM((b.v - c.c) * (b.v - c.c)) AS dist
  FROM vall b JOIN c3 c USING (dim) GROUP BY 1, 2
)
SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
       CAST(dist AS BIGINT) AS dist, vec_id % 10 = 0 AS is_delta
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist, cluster) AS rk
  FROM dF) WHERE rk = 1
ORDER BY vec_id
"""


def x_semantic_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set semantic contamination: benchmark slice (vec_id % 20 == 0)
    vs training corpus (the rest) — an asymmetric LSH-bucketed ANN join
    with exact cosine verification inside shared buckets, planes adaptive
    on the corpus cardinality. Catches paraphrase-level eval leakage that
    n-gram decontamination (x_decontaminate) cannot
    (functions/similarity.py:semantic_leakage)."""
    emb = _emb(spark, sf_dir)
    return similarity.semantic_leakage(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0), threshold=0.25)


QUERIES["x_semantic_leakage"] = x_semantic_leakage

from .registry_catalog import (  # noqa: E402,F401 — shared oracle fragments
    _cosine_sql,
    _lsh_bucket_sql_adaptive,
)

_SL_CORPUS_N = "(SELECT * FROM embeddings WHERE vec_id % 20 <> 0) corpus_n"

ORACLES["x_semantic_leakage"] = f"""
WITH c AS (
  SELECT vec_id AS corpus_id, embedding AS vc,
         {_lsh_bucket_sql_adaptive("embedding", table=_SL_CORPUS_N)} AS bucket
  FROM embeddings WHERE vec_id % 20 <> 0
), b AS (
  SELECT vec_id AS bench_id, embedding AS vbm,
         {_lsh_bucket_sql_adaptive("embedding", table=_SL_CORPUS_N)} AS bucket
  FROM embeddings WHERE vec_id % 20 = 0
)
SELECT b.bench_id, c.corpus_id, round({_cosine_sql("vbm", "vc")}, 6) AS score
FROM b JOIN c USING (bucket)
WHERE round({_cosine_sql("vbm", "vc")}, 6) >= 0.25
ORDER BY bench_id, corpus_id
"""


def _dsir_weights_dir(spark: SparkSession, sf_dir: str) -> str:
    """DSIR bucket-weight table persisted ONCE per (corpus, params, code):
    the |buckets|-row trained artifact (_pq_index_dir pattern). At 100 TB
    the nightly curation job trains the hashed-LM weights once and every
    scoring pass — incoming batches, re-scores, audits — reads the tiny
    parquet and never rescans the training corpus."""
    import os
    from .functions.dedup import _md5_hash32
    # The key covers the builder AND its algorithmic helpers (tokens,
    # _md5_hash32): a tokenizer/hash change must invalidate the persisted
    # weights, else a stale artifact would be scored against a freshly
    # updated inline oracle.
    return cached_artifact(
        "dsirw", [os.path.join(sf_dir, "documents.parquet")],
        "dsir_en_b1024",
        (_dsir_weights_dir, text.dsir_bucket_weights, text.tokens,
         _md5_hash32),
        lambda scratch: text.dsir_bucket_weights(
            _docs(spark, sf_dir), target_col="lang", target_value="en",
            buckets=1024).coalesce(1).write.mode("overwrite").parquet(scratch))


def x_dsir_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR serving split: score ONLY the incoming batch slice
    (doc_id % 10 == 0) against the persisted corpus-trained bucket-weight
    artifact — one batch-sized explode + a broadcast join against the
    1024-row parquet; the training corpus is never rescanned at serve
    time (functions/text.py:dsir_score; artifact: _dsir_weights_dir)."""
    w = spark.read.parquet(_dsir_weights_dir(spark, sf_dir))
    batch = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return text.dsir_score(batch, w, buckets=1024)


QUERIES["x_dsir_persisted"] = x_dsir_persisted

ORACLES["x_dsir_persisted"] = f"""{_DSIR_TRAIN_SQL}, per_doc AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(coalesce(w.w_e6, 0)) AS BIGINT) AS weight_e6
  FROM (SELECT * FROM toks WHERE doc_id % 10 = 0) t
  LEFT JOIN w USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.weight_e6, 0) AS BIGINT) AS weight_e6,
       coalesce(p.weight_e6, 0) > 0 AS target_like
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


def _emb_stream(spark: SparkSession, sf_dir: str,
                spread: bool = True) -> DataFrame:
    """embeddings.parquet as a file-source stream (shared
    registry_llm._symlink_stream_dir adapter: the file source monitors
    directories only). Same by-file micro-batch partitioning hazard as
    _docs_stream — spread=True inserts a round-robin exchange after the
    scan so per-batch plane/cosine work parallelizes regardless of input
    file layout; consumers that SELECT a small slice (query-side streams
    like x_ann_serve_stream) pass spread=False and place their filter /
    exchange explicitly instead of relying on Catalyst pushing the
    predicate through Repartition (r10 ADVICE)."""
    from .registry_llm import _symlink_stream_dir
    link_dir = _symlink_stream_dir(sf_dir, "embeddings.parquet", "embs")
    batch = _emb(spark, sf_dir)
    stream = spark.readStream.schema(batch.schema).parquet(link_dir)
    if spread:
        stream = stream.repartition(spark.sparkContext.defaultParallelism)
    return stream


def x_ann_serve_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving: query vectors ARRIVE as a stream and each
    micro-batch is scored against the PERSISTED IVFADC index inside
    foreachBatch (probe 3/8 cells by equi-join, ADC over probed codes,
    float rerank only for the shortlist) — the online-retrieval shape
    where the index is a nightly artifact and queries are the stream.
    Scoring is stateless per query (no cross-batch state, no watermark),
    so replaying the query set through micro-batches reproduces the
    batch serving result bit-for-bit: SAME ORACLE as x_ivfpq_topk /
    x_ivfpq_persisted_topk. Results land in a parquet sink per batch
    (K1 file-sink contract, checkpointed per ST3)."""
    import os
    import tempfile
    from .registry_ext_c import _ivfpq_index_dir
    from .registry_ops import _drain_stream
    base = _ivfpq_index_dir(spark, sf_dir)
    codes = spark.read.parquet(os.path.join(base, "codes"))
    row = spark.read.parquet(os.path.join(base, "books")).collect()[0]
    coarse = [list(cv) for cv in row["C"]]
    books = [[list(cv) for cv in book] for book in row["B"]]
    emb = _emb(spark, sf_dir)
    # Query-side stream: the filter keeps ~10 vectors per batch, so the
    # source spread exchange would move the whole corpus for nothing —
    # opt out and filter straight off the scan (the scoring join inside
    # foreachBatch provides its own parallelism).
    qs = (_emb_stream(spark, sf_dir, spread=False)
          .filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    out_dir = tempfile.mkdtemp(prefix="frde_annserve_")

    def _score(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        similarity.ivfpq_adc_topk(
            codes, coarse, books, batch_df, emb, k=5, n_probe=3,
            shortlist=50).write.mode("append").parquet(out_dir)

    _drain_stream(spark, lambda ckpt: qs.writeStream.foreachBatch(_score)
                  .option("checkpointLocation", ckpt))
    return spark.read.parquet(out_dir)


QUERIES["x_ann_serve_stream"] = x_ann_serve_stream

from .registry_core import STREAMING_DEMOS  # noqa: E402

STREAMING_DEMOS.add("x_ann_serve_stream")

from .registry_ext_b import _ivfpq_oracle  # noqa: E402

ORACLES["x_ann_serve_stream"] = _ivfpq_oracle()


def x_leakage_guard_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time contamination guard: NEW TRAINING VECTORS arrive as a
    stream and every micro-batch is checked against the (static,
    broadcast-sized) benchmark slice in embedding space — the
    x_semantic_leakage join with the corpus side streaming. The
    LSH-bucket + exact-cosine check is stateless per corpus vector (no
    cross-batch state), so the micro-batch replay reproduces the batch
    detector bit-for-bit: SAME ORACLE as x_semantic_leakage. At 100 TB
    this runs inside the ingest pipeline and quarantines eval twins
    BEFORE they enter the training pool. Plane count pins to the corpus
    cardinality exactly as the batch form (paid once, at stream
    definition)."""
    emb = _emb(spark, sf_dir)
    corpus_n = emb.filter(F.col("vec_id") % 20 != 0).count()
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    # Filter BEFORE the spread exchange (explicitly, not via Catalyst
    # pushdown through Repartition): the bench slice (5%) never crosses
    # the wire, then the round-robin exchange parallelizes the per-batch
    # plane/cosine work across the corpus rows that remain.
    stream = (_emb_stream(spark, sf_dir, spread=False)
              .filter(F.col("vec_id") % 20 != 0)
              .repartition(spark.sparkContext.defaultParallelism))
    import tempfile
    from .registry_ops import _drain_stream
    out_dir = tempfile.mkdtemp(prefix="frde_leakguard_")

    def _check(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        # Micro-batch parallelism comes from _emb_stream's source spread
        # (the by-file single-task fix lives there — 148 s -> 9.8 s at
        # 100x SF); no second repartition here.
        similarity.semantic_leakage(
            batch_df, bench, threshold=0.25, n_rows=corpus_n
        ).write.mode("append").parquet(out_dir)

    _drain_stream(spark, lambda ckpt: stream.writeStream.foreachBatch(_check)
                  .option("checkpointLocation", ckpt))
    return spark.read.parquet(out_dir)


QUERIES["x_leakage_guard_stream"] = x_leakage_guard_stream
STREAMING_DEMOS.add("x_leakage_guard_stream")
ORACLES["x_leakage_guard_stream"] = ORACLES["x_semantic_leakage"]


def x_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-churn survival curve with 1-day right-censoring
    — product-limit estimator in the exact-replay style: e6 log-space
    integer factors, descending-duration running sum for the at-risk
    counts, one exp + one round at the end. All post-aggregate work runs
    on the value-cardinality-bounded distinct-duration frame
    (operators/stats.py:kaplan_meier)."""
    from .registry_core import stats
    return stats.kaplan_meier(_events(spark, sf_dir), censor_days=1)


QUERIES["x_kaplan_meier"] = x_kaplan_meier

ORACLES["x_kaplan_meier"] = """
WITH pu AS (
  SELECT user_id, min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
  FROM events GROUP BY 1
), h AS (
  SELECT max(last_ms) AS h_ms FROM pu
), d AS (
  SELECT (last_ms - first_ms) // 86400000 AS duration_days,
         last_ms < h_ms - 1 * 86400000 AS churned
  FROM pu CROSS JOIN h
), byd AS (
  SELECT duration_days, count(*) AS n_at_d,
         SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS n_events
  FROM d GROUP BY 1
), risk AS (
  SELECT *, SUM(n_at_d) OVER (ORDER BY duration_days DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
  FROM byd
), curve AS (
  SELECT *,
         CAST(SUM(CASE WHEN n_events > 0 AND n_at_risk > n_events
                  THEN CAST(round(ln(CAST(n_at_risk - n_events AS DOUBLE)
                                     / n_at_risk) * 1000000) AS BIGINT)
                  ELSE 0 END)
              OVER (ORDER BY duration_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS surv_lle6
  FROM risk
)
SELECT CAST(duration_days AS BIGINT) AS duration_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       surv_lle6,
       round(exp(CAST(surv_lle6 AS DOUBLE) / 1000000.0), 6) AS survival
FROM curve
WHERE n_events > 0 AND n_at_risk > n_events
ORDER BY duration_days
"""


from .registry_core import multimodal  # noqa: E402


def _wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic s16 sample arrays (md5-derived per doc, 64 samples)
    encoded to genuine RIFF/WAVE payloads through the pure-stdlib codec —
    the shared fixture for the real-audio-codec queries."""
    from .functions.dedup import _md5_hash32
    d = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    smp = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: ((_md5_hash32(
            "au", F.concat(F.col("media_id").cast("string"),
                           F.lit(":"), i.cast("string"))) % 65536)
            - 32768).cast("int"))
    return multimodal.encode_wav_audio(d.withColumn("samples", smp),
                                       sample_rate=8000)


def x_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio with a REAL codec: deterministic s16 sample
    arrays encode to genuine RIFF/WAVE files (pure-stdlib codec — RIFF
    framing, fmt validation, chunk walk with pad bytes) and decode back
    through the Arrow-batched decode stage; the oracle recomputes the
    sample statistics directly from the generative definition, so
    equality proves the encode→decode round trip through the actual file
    format is the identity — the audio analogue of x_png_decode (r10
    verdict item 5). WAV joins PNG as a real path; compressed codecs
    remain documented stubs."""
    return multimodal.decode_wav_stats(_wav_media(spark, sf_dir))


QUERIES["x_wav_decode"] = x_wav_decode

_AU_H = _H32.format(
    x="concat('au', ':', CAST(media_id AS VARCHAR), ':', CAST(i AS VARCHAR))")
ORACLES["x_wav_decode"] = f"""
WITH ids AS (SELECT doc_id AS media_id FROM documents),
s AS (
  SELECT media_id, CAST({_AU_H} % 65536 AS BIGINT) - 32768 AS v
  FROM ids CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
)
SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(min(v) AS BIGINT) AS smp_min,
       CAST(max(v) AS BIGINT) AS smp_max,
       CAST(sum(v) AS BIGINT) AS smp_sum
FROM s GROUP BY media_id
"""


def x_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy through the REAL WAV path: the md5-derived
    fixture encodes to genuine RIFF/PCM16 files, then audio_energy
    (codec="wav") decodes each payload with the actual chunk-walking
    codec and windows the signed samples into 16-sample frames (sum of
    squared samples, exact BIGINT — the front half of audio dedup /
    silence trimming). Oracle replays the frame windowing from the
    generative sample definition, proving the codec round trip AND the
    framing arithmetic."""
    return multimodal.audio_energy(_wav_media(spark, sf_dir),
                                   frame_samples=16, codec="wav")


QUERIES["x_wav_energy"] = x_wav_energy

ORACLES["x_wav_energy"] = f"""
WITH ids AS (SELECT doc_id AS media_id FROM documents),
s AS (
  SELECT media_id, i, CAST({_AU_H} % 65536 AS BIGINT) - 32768 AS v
  FROM ids CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
)
SELECT media_id, CAST(i // 16 AS INTEGER) AS frame_no,
       CAST(sum(v * v) AS BIGINT) AS energy
FROM s GROUP BY media_id, i // 16
"""


def _merge_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table exercised by the MERGE family, built ONCE per
    (fixture, params, code) — three commits:

    - batch 0 (CREATE): documents slice doc_id % 3 != 1 as
      (doc_id, source, n_chars);
    - batch 1 (MERGE upsert): source slice doc_id % 2 == 0 with
      n_chars + 1000 — matches update in place, the rest insert;
    - batch 2 (MERGE delete): WHEN MATCHED THEN DELETE for keys
      doc_id % 7 == 0.

    Each MERGE rewrites only the files that contain a matching key and
    tombstones them in its manifest (sinks.merge_into), so the log holds
    genuine copy-on-write history: every x_merge_* query below reads a
    snapshot of THIS artifact at a different as-of batch, and the three
    oracles pin create/upsert/delete semantics plus tombstone ordering."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))
        target = base.filter(F.col("doc_id") % 3 != 1)
        # CREATE spreads the table over several files so the MERGE's
        # file-level pruning has real granularity to prune against.
        sinks.publish_batch(target.repartition(8, "doc_id"), scratch, 0)
        upsert_src = (base.filter(F.col("doc_id") % 2 == 0)
                      .select("doc_id", "source",
                              (F.col("n_chars") + 1000).alias("n_chars")))
        sinks.merge_into(spark, scratch, upsert_src, ["doc_id"],
                         when_matched="update")
        del_keys = base.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        sinks.merge_into(spark, scratch, del_keys, ["doc_id"],
                         when_matched="delete")
    return cached_artifact(
        "merge", [os.path.join(sf_dir, "documents.parquet")],
        "merge_v1",
        (_merge_table_dir, sinks.merge_into, sinks.publish_batch,
         sinks.read_manifest), build)


def x_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) on the commit-manifest table: the snapshot
    right after the copy-on-write upsert commit (as-of batch 1) — source
    rows replaced their key matches and inserted the rest; target rows in
    untouched FILES were never rewritten. The oracle recomputes the
    post-merge state relationally (source ∪ target-minus-source-keys),
    so equality proves upsert semantics AND that file-level pruning +
    tombstoning lost nothing (sinks.merge_into)."""
    from . import sinks
    return (sinks.read_manifest(spark, _merge_table_dir(spark, sf_dir),
                                as_of_batch=1)
            .select("doc_id", "source", "n_chars"))


QUERIES["x_merge_upsert"] = x_merge_upsert

ORACLES["x_merge_upsert"] = """
WITH target AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 <> 1
), src AS (
  SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, source, n_chars FROM src
UNION ALL
SELECT doc_id, source, n_chars FROM target
WHERE doc_id NOT IN (SELECT doc_id FROM src)
"""


def x_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE ... WHEN MATCHED THEN DELETE on the commit-manifest table:
    the latest snapshot, after the delete commit rewrote (minus the
    deleted keys) every file containing a doc_id % 7 == 0 row — including
    files the upsert commit itself had added, so the oracle also pins
    numeric tombstone ordering across stacked rewrites
    (sinks.merge_into / sinks.read_manifest)."""
    from . import sinks
    return (sinks.read_manifest(spark, _merge_table_dir(spark, sf_dir))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_merge_delete"] = x_merge_delete

ORACLES["x_merge_delete"] = """
WITH target AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 <> 1
), src AS (
  SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
), merged AS (
  SELECT doc_id, source, n_chars FROM src
  UNION ALL
  SELECT doc_id, source, n_chars FROM target
  WHERE doc_id NOT IN (SELECT doc_id FROM src)
)
SELECT doc_id, source, n_chars FROM merged WHERE doc_id % 7 <> 0
"""


def x_merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF across MERGE commits: reading the manifest table
    as-of batch 0 returns the ORIGINAL create-time snapshot even though
    two later copy-on-write commits tombstoned most of its files —
    removals apply only inside the as-of horizon, which is exactly how
    Delta/Iceberg reconstruct pre-rewrite versions from the commit log
    (sinks.read_manifest)."""
    from . import sinks
    return (sinks.read_manifest(spark, _merge_table_dir(spark, sf_dir),
                                as_of_batch=0)
            .select("doc_id", "source", "n_chars"))


QUERIES["x_merge_time_travel"] = x_merge_time_travel

ORACLES["x_merge_time_travel"] = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 3 <> 1
"""


def _expiry_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table for the snapshot-expiry family: three
    commits (CREATE doc_id % 3 != 2; MERGE upsert doc_id % 5 == 0 with
    n_chars + 500; MERGE delete doc_id % 11 == 0), then
    ``expire_manifests(keep_last=2)`` — batch 0's delta manifest is
    compacted into a batch-1 checkpoint, its tombstoned/unreferenced
    staging files are GC'd, and time travel to batch 0 errors loudly."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))
        target = base.filter(F.col("doc_id") % 3 != 2)
        sinks.publish_batch(target.repartition(8, "doc_id"), scratch, 0)
        upsert_src = (base.filter(F.col("doc_id") % 5 == 0)
                      .select("doc_id", "source",
                              (F.col("n_chars") + 500).alias("n_chars")))
        sinks.merge_into(spark, scratch, upsert_src, ["doc_id"],
                         when_matched="update")
        del_keys = base.filter(F.col("doc_id") % 11 == 0).select("doc_id")
        sinks.merge_into(spark, scratch, del_keys, ["doc_id"],
                         when_matched="delete")
        sinks.expire_manifests(scratch, keep_last=2)
    return cached_artifact(
        "expiry", [os.path.join(sf_dir, "documents.parquet")],
        "expiry_v1",
        (_expiry_table_dir, sinks.merge_into, sinks.publish_batch,
         sinks.read_manifest, sinks.expire_manifests), build)


def x_manifest_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry + orphan GC (sinks.expire_manifests — the
    Iceberg expire_snapshots / Delta VACUUM analog, r11 verdict item 7):
    after expiring to the newest 2 commits, the as-of-horizon snapshot
    is served ENTIRELY from the compacted checkpoint manifest (batch 0's
    delta log and its dead files are gone). The oracle recomputes the
    post-upsert state relationally, so equality proves the compaction
    lost nothing and kept nothing dead; the loud-failure and
    orphan-sweep contracts are pinned by
    tests/test_streaming.py::test_expire_manifests_compacts_and_collects_orphans."""
    from . import sinks
    return (sinks.read_manifest(spark, _expiry_table_dir(spark, sf_dir),
                                as_of_batch=1)
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_expiry"] = x_manifest_expiry

ORACLES["x_manifest_expiry"] = """
WITH target AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
), src AS (
  SELECT doc_id, source, CAST(n_chars + 500 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 5 = 0
)
SELECT doc_id, source, n_chars FROM src
UNION ALL
SELECT doc_id, source, n_chars FROM target
WHERE doc_id NOT IN (SELECT doc_id FROM src)
"""


from .registry_core import sketches  # noqa: E402


def _hll_day_registers_dir(spark: SparkSession, sf_dir: str) -> str:
    """Per-DAY portable-HLL register table persisted ONCE per (fixture,
    params, code): (day, bucket, reg) over events.user_id, ≤ 1024 rows
    per day regardless of event volume. At 100 TB this is the nightly
    per-partition sketch artifact — every later distinct-count question
    at ANY coarser grain folds these registers (max per bucket) without
    rescanning the event log, and because the registers are md5-derived
    (functions/sketches.py:hll_portable) any engine can do the folding."""
    import os
    from .functions.dedup import _md5_hash32

    def build(scratch):
        ev = _events(spark, sf_dir).select(
            F.expr("unix_millis(cast(ts as timestamp)) div 86400000")
            .alias("day"), "user_id")
        regs = (sketches.hll_rho(ev, "day", "user_id", p=10)
                .groupBy("day", "bucket")
                .agg(F.max("rho").alias("reg")))
        regs.coalesce(1).write.mode("overwrite").parquet(scratch)
    return cached_artifact(
        "hllday", [os.path.join(sf_dir, "events.parquet")], "hllday_p10",
        (_hll_day_registers_dir, sketches.hll_rho, _md5_hash32), build)


def x_hll_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-grain distinct-user rollup from PERSISTED per-day HLL
    registers (r10 VERDICT optional-breadth item): weekly distinct users
    computed by folding the day-grain register parquet (max per (week,
    bucket)) and re-running the estimator — the event log is never
    rescanned at query time. Register mergeability makes the fold EXACTLY
    the sketch a direct week-grain build would produce, and the oracle
    proves it by recomputing from the raw events at week grain: equality
    = fold-vs-direct identity + persistence round trip
    (functions/sketches.py:hll_estimate; artifact: _hll_day_registers_dir)."""
    regs = spark.read.parquet(_hll_day_registers_dir(spark, sf_dir))
    week_regs = (regs.select(F.expr("day div 7").alias("week"),
                             "bucket", "reg")
                 .groupBy("week", "bucket")
                 .agg(F.max("reg").alias("reg")))
    return sketches.hll_estimate(week_regs, "week", p=10)


QUERIES["x_hll_grain_rollup"] = x_hll_grain_rollup

# Constants mirror sketches.hll_portable(p=10) exactly as the
# x_hll_portable oracle does: m=1024, wbits=22, wspace=2^22, shift=23.
_HLLW_NUM = repr(0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * (1 << 23))

ORACLES["x_hll_grain_rollup"] = f"""
WITH h AS (
  SELECT (epoch_ms(ts) // 86400000) // 7 AS week,
         CAST(concat('0x', substring(md5(concat('hll', ':',
              CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
), b AS (
  SELECT week, h // 4194304 AS bucket, h % 4194304 AS w FROM h
), r AS (
  SELECT week, bucket,
         MAX(CASE WHEN w = 0 THEN 23 ELSE 23 - length(bin(w)) END) AS reg
  FROM b GROUP BY 1, 2
), g AS (
  SELECT week, COUNT(*) AS v_nonzero,
         SUM(CAST(1 AS BIGINT) << (23 - reg)) AS z_scaled
  FROM r GROUP BY 1
), e AS (
  SELECT week, v_nonzero,
         {_HLLW_NUM} / (z_scaled + (1024 - v_nonzero)
                        * CAST(1 AS BIGINT) * {1 << 23}) AS raw,
         1024 - v_nonzero AS zeros
  FROM g
)
SELECT CAST(week AS BIGINT) AS week, CAST(v_nonzero AS BIGINT) AS v_nonzero,
       ROUND(CASE WHEN raw <= {2.5 * 1024} AND zeros > 0
                  THEN {float(1024)} * ln({float(1024)}
                                          / CAST(zeros AS DOUBLE))
                  ELSE raw END, 6) AS hll_est
FROM e ORDER BY week
"""


def x_st1_keygroup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 (StatefulOperations.java:87-119) sharded by KEY GROUP — the
    state layout Flink's own runtime uses (keys hash into a fixed set of
    key groups; per-key state lives inside a group). The r12 profile
    (tools/profile_cep.py, SCALE.md r12) showed the 100x replay wall of
    every low-output machine is the ENGINE's per-distinct-key floor
    (state row encode/decode + Arrow framing + Python invocation), not
    the machines' arithmetic — this form pays that floor key_groups
    times per micro-batch instead of |users| times, and vectorizes the
    per-user diff across user-segment boundaries inside each group.
    Same alert set, same oracle, as st1_stream."""
    from .registry_ops import _run_to_memory, _stream_events
    from .streaming.stateful import interval_alerts_keygroup_stream
    ev = _stream_events(spark, sf_dir)
    out = interval_alerts_keygroup_stream(
        ev, key="user_id", ts_ms="ts_ms", event_col="event_type",
        match_value="error", threshold_ms=21_600_000, key_groups=1024,
        order_by=["ts_ms", "event_id"])
    return _run_to_memory(out, spark)


QUERIES["x_st1_keygroup_stream"] = x_st1_keygroup_stream
STREAMING_DEMOS.add("x_st1_keygroup_stream")
ORACLES["x_st1_keygroup_stream"] = ORACLES["st1_stream"]


def x_countwin_keygroup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``countWindow(10)`` sharded by KEY GROUP (see
    x_st1_keygroup_stream): same per-user count-tumbling windows and
    flush drain as x_countwin_stream, but the engine's per-distinct-key
    invocation floor is paid per group — the r12 profile's scale fix for
    the low-output machines. Same oracle as the per-key form."""
    from .registry_ops import (_EVENTS_CSV_SCHEMA, _run_to_memory)
    from .registry_ext_a import _events_csv_dir_flush_users
    from .sources import file_csv_stream
    from .streaming.stateful import count_windows_keygroup_stream
    path = _events_csv_dir_flush_users(spark, sf_dir)
    ev = file_csv_stream(spark, path, _EVENTS_CSV_SCHEMA, quoted=False)
    src = ev.select("user_id", "ts_ms", "event_id",
                    (F.col("event_type") == "__flush__").alias("is_flush"))
    out = count_windows_keygroup_stream(src, size=10, key="user_id",
                                        ts_ms="ts_ms", id_col="event_id",
                                        flush_col="is_flush",
                                        key_groups=1024)
    return _run_to_memory(out, spark)


QUERIES["x_countwin_keygroup_stream"] = x_countwin_keygroup_stream
STREAMING_DEMOS.add("x_countwin_keygroup_stream")
ORACLES["x_countwin_keygroup_stream"] = ORACLES["x_countwin_stream"]


def x_attribution_keygroup_stream(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """x_attribution_stream sharded by KEY GROUP (see
    x_st1_keygroup_stream): same live first/last-touch attribution, the
    per-user state held as arrays inside 1024 key groups so the engine's
    per-distinct-key floor disappears from the replay wall. Same
    aggregate and oracle as the per-key form."""
    from .registry_ops import _run_to_memory, _stream_events
    from .streaming.stateful import attribution_keygroup_stream
    ev = _stream_events(spark, sf_dir)
    out = attribution_keygroup_stream(ev, key="user_id", ts_ms="ts_ms",
                                      type_col="event_type",
                                      id_col="event_id",
                                      convert_on="purchase",
                                      key_groups=1024)
    mem = _run_to_memory(out, spark)
    return (mem.groupBy("first_touch", "last_touch")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
            .orderBy("first_touch", "last_touch"))


QUERIES["x_attribution_keygroup_stream"] = x_attribution_keygroup_stream
STREAMING_DEMOS.add("x_attribution_keygroup_stream")
ORACLES["x_attribution_keygroup_stream"] = ORACLES["x_attribution_stream"]


def x_j2_keygroup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming temporal join (j2_stream) sharded by KEY GROUP (see
    x_st1_keygroup_stream): clicks match the latest at-or-before purchase
    through per-user (last_ts, last_val) arrays held in 1024 key groups —
    the forward-fill is one segment-clamped maximum.accumulate per group.
    Same oracle as j2_asof_join / j2_stream."""
    from .registry_ops import _run_to_memory, _stream_events
    from .streaming.stateful import asof_join_keygroup_stream
    ev = _stream_events(spark, sf_dir)
    left = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts_ms", "event_id"))
    right = (ev.filter(F.col("event_type") == "purchase")
               .select("user_id", "ts_ms",
                       F.col("event_id").cast("double")
                        .alias("purchase_value")))
    out = asof_join_keygroup_stream(left, right, key="user_id",
                                    ts_ms="ts_ms",
                                    value_col="purchase_value",
                                    left_cols=["event_id"],
                                    key_groups=1024)
    return _run_to_memory(out, spark)


QUERIES["x_j2_keygroup_stream"] = x_j2_keygroup_stream
STREAMING_DEMOS.add("x_j2_keygroup_stream")
ORACLES["x_j2_keygroup_stream"] = ORACLES["j2_stream"]


def x_funnel_keygroup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel completion sharded by KEY GROUP (see
    x_st1_keygroup_stream): each greedy stage is one masked
    minimum.reduceat over user segments per pass — len(steps) passes, no
    per-user Python. Same rows and oracle as x_funnel_stream."""
    from .registry_ops import _run_to_memory, _stream_events
    from .streaming.stateful import funnel_keygroup_stream
    ev = _stream_events(spark, sf_dir)
    out = funnel_keygroup_stream(ev, ["view", "click", "purchase"],
                                 key="user_id", ts_ms="ts_ms",
                                 type_col="event_type",
                                 id_col="event_id", key_groups=1024)
    return _run_to_memory(out, spark)


QUERIES["x_funnel_keygroup_stream"] = x_funnel_keygroup_stream
STREAMING_DEMOS.add("x_funnel_keygroup_stream")
ORACLES["x_funnel_keygroup_stream"] = ORACLES["x_funnel_stream"]


def x_cep_keygroup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP (view->click->purchase within 24h, strict
    contiguity) sharded by KEY GROUP (see x_st1_keygroup_stream): carried
    per-user buffers splice in as synthetic rows before each user's new
    rows, the match stays one shifted elementwise compare with a
    same-user window guard. Same rows and oracle as x_cep_stream."""
    from .registry_ops import _run_to_memory, _stream_events
    from .streaming.stateful import sequence_match_keygroup_stream
    ev = _stream_events(spark, sf_dir)
    out = sequence_match_keygroup_stream(
        ev, ["view", "click", "purchase"], within_ms=86_400_000,
        key="user_id", ts_ms="ts_ms", type_col="event_type",
        id_col="event_id", key_groups=1024)
    return _run_to_memory(out, spark)


QUERIES["x_cep_keygroup_stream"] = x_cep_keygroup_stream
STREAMING_DEMOS.add("x_cep_keygroup_stream")
ORACLES["x_cep_keygroup_stream"] = ORACLES["x_cep_stream"]


def x_dynsession_keygroup_stream(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization sharded by KEY GROUP (see
    x_st1_keygroup_stream): the gaps-and-islands partition runs once over
    every real row in the group with breaks forced at user-segment heads,
    flush verdicts are one max per user. Corpus-sized session output
    round-trips through parquet like the per-key form. Same oracle as
    x_dynsession_stream / x_dynamic_sessions."""
    from .registry_ops import (_EVENTS_CSV_SCHEMA, _run_to_parquet)
    from .registry_ext_a import _events_csv_dir_flush_users
    from .sources import file_csv_stream
    from .streaming.stateful import dynamic_sessions_keygroup_stream
    path = _events_csv_dir_flush_users(spark, sf_dir)
    ev = file_csv_stream(spark, path, _EVENTS_CSV_SCHEMA, quoted=False)
    gap = (F.when(F.col("event_type") == "__flush__",
                  F.lit(None).cast("bigint"))
            .when(F.col("event_type") == "click", F.lit(1_800_000))
            .otherwise(F.lit(600_000)))
    src = ev.select("user_id", "ts_ms", "event_id", gap.alias("gap"))
    out = dynamic_sessions_keygroup_stream(src, key="user_id",
                                           ts_ms="ts_ms", gap_col="gap",
                                           id_col="event_id",
                                           key_groups=1024)
    return _run_to_parquet(out, spark)


QUERIES["x_dynsession_keygroup_stream"] = x_dynsession_keygroup_stream
STREAMING_DEMOS.add("x_dynsession_keygroup_stream")
ORACLES["x_dynsession_keygroup_stream"] = ORACLES["x_dynsession_stream"]


def x_st2_keygroup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 (CourseUseCase.java:120-176) sharded by KEY GROUP (see
    x_st1_keygroup_stream): the capstone action-duration machine with
    per-user (last_action, last_ts) held as group arrays — the one-row
    lookback runs across user segments, heads read the carried state.
    Corpus-sized per-event output round-trips through parquet. Same
    oracle as st2_stream."""
    from .registry_ops import (_run_to_parquet, _stream_events)
    from .streaming.stateful import action_durations_keygroup_stream
    ev = _stream_events(spark, sf_dir)
    out = action_durations_keygroup_stream(
        ev, key="user_id", ts_ms="ts_ms", action_col="event_type",
        session_start="signup", session_end="error", key_groups=1024,
        order_by=["ts_ms", "event_id"])
    return _run_to_parquet(out, spark)


QUERIES["x_st2_keygroup_stream"] = x_st2_keygroup_stream
STREAMING_DEMOS.add("x_st2_keygroup_stream")
ORACLES["x_st2_keygroup_stream"] = ORACLES["st2_stream"]


def _skipping_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Manifest table for the data-skipping family: documents
    (doc_id, source, n_chars) published RANGE-CLUSTERED on doc_id over 8
    files with per-file [min, max] doc_id stats in the manifest
    (sinks.publish_batch stats_cols) — the writer-side clustering that
    makes file skipping effective, exactly as Iceberg/Delta tables sort
    before writing."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        sinks.publish_batch(base.repartitionByRange(8, "doc_id"), scratch, 0,
                            stats_cols=["doc_id"])
    return cached_artifact(
        "skip", [os.path.join(sf_dir, "documents.parquet")],
        "skip_v1",
        (_skipping_table_dir, sinks.publish_batch, sinks.read_manifest), build)


def x_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate file-skipping on manifest stats (r11 verdict
    optional-breadth; the Iceberg/Delta data-skipping scan step): a
    doc_id range predicate (30%..55% of max, derived identically by both
    engines) plans the scan from the per-file [min, max] stats — files
    provably outside the range are never opened (pruning verified by
    tests/test_streaming.py::test_manifest_stats_skipping_and_expiry_carry)
    — then the row-level filter lands on the surviving superset. Oracle
    equality proves skipping lost nothing and kept nothing extra."""
    from . import sinks
    d = _skipping_table_dir(spark, sf_dir)
    mx = _docs(spark, sf_dir).agg(
        F.max("doc_id").alias("m")).collect()[0]["m"]  # 1-row bound
    lo, hi = (mx * 3) // 10, (mx * 55) // 100
    return (sinks.read_manifest(spark, d, prune=("doc_id", lo, hi))
            .filter(F.col("doc_id").between(lo, hi))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_skipping"] = x_manifest_skipping

ORACLES["x_manifest_skipping"] = """
WITH b AS (SELECT (max(doc_id) * 3) // 10 AS lo,
                  (max(doc_id) * 55) // 100 AS hi FROM documents)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents, b WHERE doc_id BETWEEN b.lo AND b.hi
"""


def _optimize_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Manifest table for the OPTIMIZE family: CREATE scattered over 12
    hash-partitioned files (doc_id % 4 != 3), MERGE upsert
    (doc_id % 6 == 0, n_chars + 2000), then sinks.optimize_table —
    rewrite to 4 doc_id-range-clustered files with stats, tombstoning
    every pre-optimize live file."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        sinks.publish_batch(
            base.filter(F.col("doc_id") % 4 != 3).repartition(12, "doc_id"),
            scratch, 0)
        upsert = (base.filter(F.col("doc_id") % 6 == 0)
                  .select("doc_id", "source",
                          (F.col("n_chars") + 2000).alias("n_chars")))
        sinks.merge_into(spark, scratch, upsert, ["doc_id"],
                         when_matched="update")
        sinks.optimize_table(spark, scratch, cluster_by="doc_id",
                             target_files=4, stats_cols=["doc_id"])
    return cached_artifact(
        "opt", [os.path.join(sf_dir, "documents.parquet")],
        "opt_v1",
        (_optimize_table_dir, sinks.optimize_table, sinks.merge_into,
         sinks.publish_batch, sinks.read_manifest), build)


def x_manifest_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE / rewrite_data_files on the commit-manifest table
    (sinks.optimize_table): the latest snapshot after compacting the
    scattered post-MERGE table into 4 range-clustered, stats-carrying
    files. The oracle recomputes the logical state relationally —
    equality proves the rewrite was a physical-only change; compaction,
    pruning-effectiveness and history preservation are pinned by
    tests/test_streaming.py::test_optimize_table_compacts_clusters_and_preserves_history."""
    from . import sinks
    return (sinks.read_manifest(spark, _optimize_table_dir(spark, sf_dir))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_optimize"] = x_manifest_optimize

ORACLES["x_manifest_optimize"] = """
WITH target AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 4 <> 3
), src AS (
  SELECT doc_id, source, CAST(n_chars + 2000 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 6 = 0
)
SELECT doc_id, source, n_chars FROM src
UNION ALL
SELECT doc_id, source, n_chars FROM target
WHERE doc_id NOT IN (SELECT doc_id FROM src)
"""


def _zorder_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Manifest table for the ZORDER family: documents
    (doc_id, source, n_chars) created hash-scattered, then
    sinks.optimize_table(cluster_by=["doc_id", "n_chars"]) — min-max
    16-bit bit-interleaved curve clustering with stats on BOTH columns."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        sinks.publish_batch(base.repartition(12, "doc_id"), scratch, 0)
        sinks.optimize_table(spark, scratch,
                             cluster_by=["doc_id", "n_chars"],
                             target_files=8,
                             stats_cols=["doc_id", "n_chars"])
    return cached_artifact(
        "zorder", [os.path.join(sf_dir, "documents.parquet")],
        "zorder_v1",
        (_zorder_table_dir, sinks.optimize_table, sinks.publish_batch,
         sinks.read_manifest), build)


def x_manifest_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (doc_id, n_chars) on the commit-manifest table
    (sinks.optimize_table multi-column form): the scan prunes on the
    SECONDARY curve column — an n_chars range predicate (20%..40% of
    max, derived identically by both engines) plans from the per-file
    stats the interleaved clustering kept tight on both columns, which
    linear clustering cannot do for the trailing column
    (tests/test_streaming.py::test_optimize_zorder_prunes_on_both_columns
    pins the pruning). Oracle equality proves skipping + rewrite lost
    nothing."""
    from . import sinks
    d = _zorder_table_dir(spark, sf_dir)
    mx = _docs(spark, sf_dir).agg(
        F.max("n_chars").alias("m")).collect()[0]["m"]  # 1-row bound
    lo, hi = (int(mx) * 2) // 10, (int(mx) * 4) // 10
    return (sinks.read_manifest(spark, d, prune=("n_chars", lo, hi))
            .filter(F.col("n_chars").between(lo, hi))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_zorder"] = x_manifest_zorder

ORACLES["x_manifest_zorder"] = """
WITH b AS (SELECT (max(n_chars) * 2) // 10 AS lo,
                  (max(n_chars) * 4) // 10 AS hi FROM documents)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents, b WHERE n_chars BETWEEN b.lo AND b.hi
"""


def _checkpoint_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table for the LOG-CHECKPOINT family (r12 VERDICT
    item 4 — the Delta ``checkpoint.parquet``/``_last_checkpoint``
    mechanism): 13 commits. Commits 0-11 each publish the documents
    slice ``doc_id % 12 == i`` with ``n_chars + i*100`` (a log
    checkpoint rides commit 10, the every-10 default); commit 12 is a
    MERGE delete of ``doc_id % 7 == 0`` — so the latest snapshot folds
    the CHECKPOINTED state (commits <= 10) plus a tail ADD (11) plus a
    tail TOMBSTONE (12), exercising every fold path across the
    checkpoint seam."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        for i in range(12):
            sl = (base.filter(F.col("doc_id") % 12 == i)
                  .select("doc_id", "source",
                          (F.col("n_chars") + i * 100).alias("n_chars")))
            sinks.publish_batch(sl.repartition(4, "doc_id"), scratch, i)
        del_keys = base.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        sinks.merge_into(spark, scratch, del_keys, ["doc_id"],
                         when_matched="delete")
    return cached_artifact(
        "logckpt", [os.path.join(sf_dir, "documents.parquet")],
        "logckpt_v1",
        (_checkpoint_table_dir, sinks.publish_batch, sinks.write_checkpoint,
         sinks.read_manifest, sinks.merge_into), build)


def x_manifest_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-log checkpointing (sinks.write_checkpoint — Delta's
    ``_last_checkpoint`` mechanism, r12 VERDICT item 4): the latest
    snapshot of a 13-commit table is planned from the folded
    checkpoint.10 plus the 2-manifest tail — 3 log files parsed, not 13
    (O(1 + tail) pinned by tests/test_streaming.py::
    test_manifest_log_checkpoint_bounds_read_planning). The oracle
    recomputes the 12 per-commit slice transforms plus the post-
    checkpoint MERGE delete relationally, so equality proves the
    checkpointed fold composes exactly with tail adds AND tail
    tombstones."""
    from . import sinks
    return (sinks.read_manifest(spark,
                                _checkpoint_table_dir(spark, sf_dir))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_checkpoint"] = x_manifest_checkpoint

ORACLES["x_manifest_checkpoint"] = """
SELECT doc_id, source,
       CAST(n_chars + (doc_id % 12) * 100 AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 7 <> 0
"""


def _bloom_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table for the Bloom file-skipping family: the
    documents projection HASH-partitioned by doc_id into 8 files (so
    every file's [min, max] spans the whole id domain and range stats
    prune nothing — the exact workload Bloom indexes exist for), with
    per-file min/max stats AND per-file Bloom filters on doc_id."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        sinks.publish_batch(base.repartition(8, "doc_id"), scratch, 0,
                            stats_cols=["doc_id"],
                            bloom_cols=["doc_id"])
    return cached_artifact(
        "bloom", [os.path.join(sf_dir, "documents.parquet")],
        "bloom_v1",
        (_bloom_table_dir, sinks.publish_batch, sinks.read_manifest), build)


def x_manifest_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (sinks.publish_batch bloom_cols +
    read_manifest prune_eq — the point-lookup complement to min/max
    stats, r12 VERDICT optional-breadth): a doc_id point lookup on a
    hash-scattered table opens only the files whose Bloom admits the
    key (~1 of 8; range stats cannot skip any — every file spans the id
    domain). The probe id is a deterministic corpus-derived existing id
    (max*3//7 on contiguous ids; 1-row bound, like x_manifest_zorder).
    Skipping-actually-skips and the absent-key/compaction contracts are
    pinned by tests/test_streaming.py::
    test_manifest_bloom_point_lookup_skips_hash_scattered_files; oracle
    equality proves the superset-then-filter read is exact."""
    from . import sinks
    d = _bloom_table_dir(spark, sf_dir)
    mx = _docs(spark, sf_dir).agg(
        F.max("doc_id").alias("m")).collect()[0]["m"]  # 1-row bound
    probe = (int(mx) * 3) // 7
    return (sinks.read_manifest(spark, d, prune_eq=("doc_id", probe))
            .filter(F.col("doc_id") == probe)
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_bloom"] = x_manifest_bloom

ORACLES["x_manifest_bloom"] = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id = (SELECT (max(doc_id) * 3) // 7 FROM documents)
"""


def _spec_evo_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table for the partition-spec-evolution family:
    spec 0 clusters/stats on n_chars and commits the even doc_ids; the
    spec then EVOLVES to doc_id (sinks.set_partition_spec — metadata
    only, no rewrite) and commit 1 appends the odd doc_ids under the
    new layout."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        sinks.set_partition_spec(scratch, ["n_chars"])
        sinks.append_with_spec(spark, scratch,
                               base.filter(F.col("doc_id") % 2 == 0), 0)
        sinks.set_partition_spec(scratch, ["doc_id"])
        sinks.append_with_spec(spark, scratch,
                               base.filter(F.col("doc_id") % 2 == 1), 1)
    return cached_artifact(
        "specevo", [os.path.join(sf_dir, "documents.parquet")],
        "specevo_v1",
        (_spec_evo_table_dir, sinks.set_partition_spec, sinks.append_with_spec,
         sinks.read_manifest), build)


def x_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (sinks.set_partition_spec /
    append_with_spec — Iceberg ALTER TABLE ... PARTITION FIELD, r12
    VERDICT optional-breadth): after evolving the layout from n_chars
    to doc_id, a doc_id range query plans HETEROGENEOUSLY — pre-
    evolution files carry no doc_id stats and are always read (superset
    contract), post-evolution files prune to the range — and history is
    never rewritten (pinned byte-for-byte plus time travel by
    tests/test_streaming.py::
    test_partition_spec_evolution_heterogeneous_planning). The range is
    corpus-derived (middle 30-60% of max doc_id, 1-row bound); oracle
    equality proves the mixed-spec read is exact."""
    from . import sinks
    d = _spec_evo_table_dir(spark, sf_dir)
    mx = _docs(spark, sf_dir).agg(
        F.max("doc_id").alias("m")).collect()[0]["m"]  # 1-row bound
    lo, hi = (int(mx) * 3) // 10, (int(mx) * 6) // 10
    return (sinks.read_manifest(spark, d, prune=("doc_id", lo, hi))
            .filter(F.col("doc_id").between(lo, hi))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_spec_evolution"] = x_spec_evolution

ORACLES["x_spec_evolution"] = """
WITH b AS (SELECT (max(doc_id) * 3) // 10 AS lo,
                  (max(doc_id) * 6) // 10 AS hi FROM documents)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents, b WHERE doc_id BETWEEN b.lo AND b.hi
"""


def x_manifest_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed between table versions (sinks.read_changes —
    Delta CDF / Iceberg incremental read, r13): the row-level delta
    from the CREATE snapshot (batch 0) to the post-upsert/post-delete
    head (batch 2) of the MERGE table, computed FILE-DIFF bounded —
    only files that entered or left the live set are read, COW-copied
    survivors cancel via exceptAll (an OPTIMIZE yields an empty feed,
    pinned by tests/test_streaming.py::
    test_read_changes_file_diff_bounded_cdf). Updates appear as their
    delete+insert pair. The oracle recomputes both snapshots
    relationally and EXCEPT ALLs them each way."""
    from . import sinks
    return (sinks.read_changes(spark, _merge_table_dir(spark, sf_dir),
                               0, 2)
            .select("doc_id", "source", "n_chars", "_change_type"))


QUERIES["x_manifest_cdf"] = x_manifest_cdf

ORACLES["x_manifest_cdf"] = """
WITH a AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 <> 1
), src AS (
  SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
), merged AS (
  SELECT doc_id, source, n_chars FROM src
  UNION ALL
  SELECT doc_id, source, n_chars FROM a
  WHERE doc_id NOT IN (SELECT doc_id FROM src)
), b AS (
  SELECT doc_id, source, n_chars FROM merged WHERE doc_id % 7 <> 0
)
SELECT doc_id, source, n_chars, 'insert' AS _change_type
FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
UNION ALL
SELECT doc_id, source, n_chars, 'delete' AS _change_type
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
"""


def _schema_evo_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table for schema evolution: commit 0 publishes
    the even doc_ids WITHOUT n_chars (the table's original 2-column
    schema); commit 1 publishes the odd doc_ids WITH the n_chars column
    the schema later grew. No historical file is rewritten."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir)
        sinks.publish_batch(
            base.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "source").repartition(4, "doc_id"),
            scratch, 0)
        sinks.publish_batch(
            base.filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "source",
                    F.col("n_chars").cast("bigint").alias("n_chars"))
            .repartition(4, "doc_id"),
            scratch, 1)
    return cached_artifact(
        "schevo", [os.path.join(sf_dir, "documents.parquet")],
        "schevo_v1",
        (_schema_evo_table_dir, sinks.publish_batch, sinks.read_manifest),
        build)


def x_manifest_schema_evo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (sinks.read_manifest merge_schema=True
    — Delta mergeSchema / Iceberg schema unions, r13): the table grew
    an n_chars column after its first commit; the merged read unions
    both file schemas and serves pre-evolution rows with NULL n_chars —
    metadata-only evolution, no historical file rewritten (the
    commit-manifest twin of the plain-parquet x_schema_evolution).
    Oracle recomputes both generations relationally with an explicit
    NULL for the old one."""
    from . import sinks
    return (sinks.read_manifest(spark,
                                _schema_evo_table_dir(spark, sf_dir),
                                merge_schema=True)
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_schema_evo"] = x_manifest_schema_evo

ORACLES["x_manifest_schema_evo"] = """
SELECT doc_id, source, CAST(NULL AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 2 = 1
"""


def x_manifest_spec_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest under a declared partition spec
    (sinks.spec_manifest_sink, r13): the purchase replay commits
    micro-batches range-clustered on user_id with stats + an event_id
    bloom recorded AT WRITE TIME, so the freshly-ingested table prunes
    immediately — the read back applies a corpus-derived user_id range
    prune (planning skips files before any exchange) and the row
    filter; oracle recomputes the same range relationally. This closes
    the loop between the reference's streaming core and the r12/r13
    table format: no OPTIMIZE pass needed before the table is
    queryable-fast."""
    import tempfile
    from .registry_ops import _drain_stream, _stream_events
    from .sinks import read_manifest, set_partition_spec, spec_manifest_sink
    ev = _stream_events(spark, sf_dir)
    sel = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts_ms"))
    out_dir = tempfile.mkdtemp(prefix="frde_specstream_")
    set_partition_spec(out_dir, ["user_id"], bloom_cols=["event_id"])
    _drain_stream(spark, lambda ckpt: spec_manifest_sink(sel, out_dir, ckpt))
    mx = _events(spark, sf_dir).agg(
        F.max("user_id").alias("m")).collect()[0]["m"]  # 1-row bound
    lo, hi = int(mx) // 4, int(mx) // 2
    return (read_manifest(spark, out_dir, prune=("user_id", lo, hi))
            .filter(F.col("user_id").between(lo, hi)))


QUERIES["x_manifest_spec_stream"] = x_manifest_spec_stream
STREAMING_DEMOS.add("x_manifest_spec_stream")

ORACLES["x_manifest_spec_stream"] = """
WITH b AS (SELECT max(user_id) // 4 AS lo, max(user_id) // 2 AS hi
           FROM events)
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
FROM events, b
WHERE event_type = 'purchase' AND user_id BETWEEN b.lo AND b.hi
"""


def x_cdf_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance from the Change Data Feed (r13 —
    the reason CDF exists): a per-source doc-count materialized view is
    REFRESHED by applying read_changes' insert/delete deltas (+1/-1) to
    the view's base snapshot, never rescanning the table — refresh cost
    scales with the merge's touched slice. The oracle computes the
    post-merge counts DIRECTLY from the final relational snapshot, so
    hash equality is the IVM identity: base ⊕ delta == direct."""
    from . import sinks
    d = _merge_table_dir(spark, sf_dir)
    base = (sinks.read_manifest(spark, d, as_of_batch=0)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n0")))
    delta = (sinks.read_changes(spark, d, 0, 2)
             .groupBy("source")
             .agg(F.sum(F.when(F.col("_change_type") == "insert", 1)
                        .otherwise(-1)).alias("dn")))
    return (base.join(delta, "source", "full_outer")
            .select("source",
                    (F.coalesce("n0", F.lit(0))
                     + F.coalesce("dn", F.lit(0)))
                    .cast("bigint").alias("n_docs"))
            .filter(F.col("n_docs") > 0))


QUERIES["x_cdf_incremental_agg"] = x_cdf_incremental_agg

ORACLES["x_cdf_incremental_agg"] = """
WITH a AS (
  SELECT doc_id, source FROM documents WHERE doc_id % 3 <> 1
), src AS (
  SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0
), merged AS (
  SELECT doc_id, source FROM src
  UNION ALL
  SELECT doc_id, source FROM a
  WHERE doc_id NOT IN (SELECT doc_id FROM src)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs
FROM merged WHERE doc_id % 7 <> 0
GROUP BY source HAVING count(*) > 0
"""


def x_manifest_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named snapshot refs (sinks.create_tag / read_manifest(ref=...) —
    Iceberg tags, r13): the MERGE table's post-upsert commit is pinned
    as tag 'pre-delete' and read BY NAME; hash equality against the
    relational upsert-state oracle proves ref resolution lands on
    exactly the pinned version. Tag-blocks-expiry (retained-ref rule)
    is pinned by tests/test_streaming.py::
    test_tags_pin_snapshots_and_block_expiry."""
    from . import sinks
    d = _merge_table_dir(spark, sf_dir)
    sinks.create_tag(d, "pre-delete", 1)  # idempotent atomic replace
    return (sinks.read_manifest(spark, d, ref="pre-delete")
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_tag"] = x_manifest_tag

ORACLES["x_manifest_tag"] = """
WITH target AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 <> 1
), src AS (
  SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, source, n_chars FROM src
UNION ALL
SELECT doc_id, source, n_chars FROM target
WHERE doc_id NOT IN (SELECT doc_id FROM src)
"""


def _mor_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Commit-manifest table for the merge-on-read family: commit 0
    publishes all documents; commit 1 is an EQUALITY DELETE of
    doc_id % 5 == 0 (sinks.delete_where — no data file rewritten);
    commit 2 appends the doc_id % 10 == 0 slice with n_chars + 7 —
    rows that arrive AFTER the delete and must be immune to it by the
    sequence rule."""
    import os
    from . import sinks

    def build(scratch):
        base = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"))
        sinks.publish_batch(base.repartition(8, "doc_id"), scratch, 0)
        sinks.delete_where(spark, scratch, F.col("doc_id") % 5 == 0)
        sinks.publish_batch_occ(
            base.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "source",
                    (F.col("n_chars") + 7).alias("n_chars")), scratch)
    return cached_artifact(
        "mor", [os.path.join(sf_dir, "documents.parquet")],
        "mor_v1",
        (_mor_table_dir, sinks.publish_batch, sinks.delete_where,
         sinks.read_manifest), build)


def x_manifest_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes (sinks.delete_where /
    read_manifest's sequence-aware anti-join — Iceberg equality deletes
    / Delta deletion vectors, r13): the doc_id % 5 == 0 rows are dead
    WITHOUT any data file having been rewritten, while the
    doc_id % 10 == 0 slice appended AFTER the delete is immune (delete
    commit id < its commit id). The oracle recomputes survivors +
    immune appends relationally; no-rewrite/materialization/CDF
    contracts are pinned by tests/test_streaming.py::
    test_merge_on_read_equality_deletes."""
    from . import sinks
    return (sinks.read_manifest(spark, _mor_table_dir(spark, sf_dir))
            .select("doc_id", "source", "n_chars"))


QUERIES["x_manifest_mor"] = x_manifest_mor

ORACLES["x_manifest_mor"] = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 5 <> 0
UNION ALL
SELECT doc_id, source, CAST(n_chars + 7 AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 10 = 0
"""
