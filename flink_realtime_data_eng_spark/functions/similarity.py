"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — broadcast the (small) query set against
the corpus, dot products via ``zip_with`` + ``aggregate`` higher-order
expressions (JVM-side, sequential fold → deterministic, oracle-matching),
top-k per query via partition-local row_number. At 100 TB the corpus side
only ever streams through map tasks; the single shuffle is the tiny
(n_queries × k)-row TopK.

Scale path: LSH bucketing — random-hyperplane signatures from md5-derived
±1 planes (deterministic, seedable), candidates restricted to the query's
bucket before exact scoring. Recall/probe tradeoff documented per function.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import (Column, DataFrame, SparkSession, Window as W,
                         functions as F)


def _dot(a: str | Column, b: str | Column) -> Column:
    """Sequential-fold dot product of two float arrays, accumulated in double
    (ordering matters for float determinism vs the oracle)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(v: str | Column) -> Column:
    cv = F.col(v) if isinstance(v, str) else v
    sq = F.aggregate(cv, F.lit(0.0),
                     lambda acc, x: acc + x.cast("double") * x.cast("double"))
    return F.sqrt(sq)


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity, zero-vector-safe: a zero-norm side scores 0.0
    instead of tripping ANSI DIVIDE_BY_ZERO (hypothesis found the crash —
    a corpus with one all-zero embedding would kill every cosine-based
    pipeline). Fixture oracles are unaffected (no zero vectors there);
    the 0.0 convention is also what a zero vector means for ranking:
    similar to nothing.

    Null contract (pinned by test, matches the historical expression): a
    NULL vector side scores 0.0 (its norm — and so the denominator — was
    null, and ``when(den > 0, ·)`` fell through to the 0.0 branch);
    length-mismatched non-null vectors score NULL (``zip_with`` padded
    with null, nulling the dot while the denominator stayed positive).

    The returned Column is marked ``asNondeterministic()`` — deliberate,
    see the note at the call site: it pins ONE Arrow evaluation where the
    optimizer would otherwise duplicate the UDF around a pushed filter.
    Consequence for callers: Spark rejects non-deterministic expressions
    in join CONDITIONS and some aggregate positions, so always project
    the score into a column first (``.select(cosine(...).alias("score"))``)
    and join/filter/rank on that column — every in-repo consumer does.

    Implementation note (r13 optimization): the historical form folded
    zip_with products through ``F.aggregate`` — Spark evaluates
    higher-order functions INTERPRETED (no codegen), ~200 µs per pair at
    dim 64, which dominated every pair-scoring stage (LSH candidate
    verify, brute-force/ANN rerank). This form hands Arrow batches to
    numpy (one einsum per batch). Every consumer reads the score through
    ``F.round(·, 6)``, so only sign/rounding-boundary cases could ever
    observe the reassociation difference: rows whose score sits within a
    worst-case float error bound of a 0.5·10⁻⁶ rounding boundary are
    recomputed with the exact sequential left-to-right fold the old
    expression used (IEEE-identical in Python) — the fast path only
    serves values the bound proves round-identical."""

    def _seq_den(va, vb) -> float:
        sa = 0.0
        sb = 0.0
        for x in va:
            sa += float(x) * float(x)
        for y in vb:
            sb += float(y) * float(y)
        import math
        return math.sqrt(sa) * math.sqrt(sb)

    def _seq_cosine(va, vb) -> float:
        dot = 0.0
        for x, y in zip(va, vb):
            dot += float(x) * float(y)
        den = _seq_den(va, vb)
        return dot / den if den > 0 else 0.0

    import numpy as np

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        out = np.zeros(n, dtype=np.float64)
        la = np.array([-1 if v is None else len(v) for v in va])
        lb = np.array([-1 if v is None else len(v) for v in vb])
        # Old expression semantics, exactly: a NULL side nulls its norm and
        # so the denominator, and when(den > 0, ·).otherwise(0.0) lands in
        # the 0.0 branch → a null side scores 0.0 (out is pre-zeroed);
        # unequal-length non-null vectors null only the DOT (zip_with pads
        # with null), so they score NULL where den > 0 and 0.0 where an
        # empty or all-zero side makes den == 0.
        nulls = np.zeros(n, dtype=bool)
        for i in np.nonzero((la >= 0) & (lb >= 0) & (la != lb))[0]:
            nulls[i] = _seq_den(va.iloc[i], vb.iloc[i]) > 0
        eps = np.finfo(np.float64).eps
        for d in np.unique(la[(la == lb) & (la >= 0)]):
            idx = np.nonzero((la == d) & (lb == d))[0]
            if d == 0:
                out[idx] = 0.0  # empty folds: den 0 → 0.0
                continue
            ma = np.array([np.asarray(va.iloc[i], dtype=np.float64)
                           for i in idx])
            mb = np.array([np.asarray(vb.iloc[i], dtype=np.float64)
                           for i in idx])
            dot = np.einsum("ij,ij->i", ma, mb)
            sa = np.einsum("ij,ij->i", ma, ma)
            sb = np.einsum("ij,ij->i", mb, mb)
            den = np.sqrt(sa) * np.sqrt(sb)
            ok = den > 0
            score = np.where(ok, dot / np.where(ok, den, 1.0), 0.0)
            # Worst-case |seq - pairwise| for each accumulated sum, pushed
            # through the quotient; ambiguous iff a 6-dp rounding boundary
            # (or the >0 sign, same bound) lies inside the interval.
            err_dot = 4 * d * eps * np.einsum("ij,ij->i",
                                              np.abs(ma), np.abs(mb))
            err = np.where(ok, (err_dot + np.abs(dot) * 4 * d * eps)
                           / np.where(ok, den, 1.0), 0.0)
            # distance from score·10⁶ to the nearest x.5 rounding boundary
            frac = np.mod(score * 1e6, 1.0)
            amb = ok & ((np.abs(frac - 0.5) <= err * 1e6 + 1e-9)
                        | (np.abs(score) <= err))
            for j in np.nonzero(amb)[0]:
                score[j] = _seq_cosine(va.iloc[idx[j]], vb.iloc[idx[j]])
            out[idx] = score
        if nulls.any():
            return pd.Series([None if nulls[i] else float(out[i])
                              for i in range(n)])
        return pd.Series(out)

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    # Guide §4.4: every consumer filters on the score (>= threshold / top-k),
    # and the optimizer duplicates a deterministic UDF around such a pushed
    # filter — two ArrowEvalPython nodes, every row scored twice. Marking it
    # non-deterministic pins ONE evaluation (results unchanged: the filter
    # still runs, just above the projection).
    return _cos.asNondeterministic()(ca, cb)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id: str = "query_id",
                     exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries: (query_id, embedding) — small; explicitly broadcast so the
    corpus-side scan never shuffles. Output: query_id, vec_id, score, rk.

    ``exclude_self`` assumes query ids share the corpus id space and drops
    the ``query_id == vec_id`` pair (a query never returns itself). Pass
    ``False`` when query ids are an independent id space — otherwise an
    accidental id collision would silently drop a legitimate neighbor.

    Ranking is on the score ROUNDED to 6 decimals with the corpus id as the
    tiebreaker, so ranks are reproducible across engines whose float folds
    differ in the last ulp.
    """
    q = queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"))
    cond = (F.col(query_id) != F.col(id_col)) if exclude_self else F.lit(True)
    scored = (corpus.join(F.broadcast(q), cond)
              .select(F.col(query_id), F.col(id_col),
                      F.round(cosine("q_vec", vec_col), 6).alias("score")))
    w = W.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


# Hyperplane sign tables are precomputed driver-side up to this dim and
# shipped in the UDF closure; wider vectors extend the table LAZILY on the
# executor (same md5 parity, value-identical — the per-plane sign at index
# i never depends on the table width); each worker keeps only the widest
# table (:func:`_sign_table`). No behavior cliff: any dim works, only the
# shipped-closure size is bounded here.
_LSH_MAX_DIM = 1024


def _plane_signs_py(plane: int, dim: int = _LSH_MAX_DIM) -> list[float]:
    """Deterministic ±1 from md5(plane:dim) parity — a seedable pseudo-random
    hyperplane with no RNG state (reproducible across engines/runs). The
    Python twin of the historical per-element SQL expression: the oracle
    (`_lsh_bucket_sql*`) and this table both derive from
    ``int(md5(f"plane{p}:{i}")[:8], 16) % 2``, value-identical."""
    import hashlib
    return [1.0 if int(hashlib.md5(f"plane{plane}:{i}".encode())
                       .hexdigest()[:8], 16) % 2 == 1 else -1.0
            for i in range(dim)]


def _sign_table(num_planes: int):
    """``signs_for(d)``: the (d, planes) ±1 float64 table, a prefix slice of
    the widest table built so far. It starts at ``_LSH_MAX_DIM`` (shipped in
    the UDF closure) and is rebuilt wider on the executor only when a wider
    vector arrives, so each worker keeps one table, however many widths it
    sees; the sign at index i does not depend on the width."""
    import numpy as np

    def build(d: int) -> "np.ndarray":
        return np.array([_plane_signs_py(p, d) for p in range(num_planes)],
                        dtype=np.float64).T

    widest = [build(_LSH_MAX_DIM)]

    def signs_for(d: int) -> "np.ndarray":
        if d > widest[0].shape[0]:
            widest[0] = build(d)
        return widest[0][:d]
    return signs_for


def lsh_signature(vec_col: str, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (0 .. 2^planes-1): bit p = sign of the
    dot product with pseudo-random ±1 plane p. Map-side, one vectorized
    Arrow batch pass — no shuffle, no per-element JVM interpretation.

    Implementation note (r13 optimization): the historical form was a
    zip_with/aggregate fold whose per-element lambda recomputed
    md5(plane:dim) — dim × planes md5 calls per ROW — and Spark evaluates
    higher-order functions INTERPRETED (no codegen), which in long
    sessions degrades a further ~20× (megamorphic eval sites). This form
    precomputes the ±1 sign matrix driver-side (:func:`_plane_signs_py`,
    value-identical md5 parity) and hands whole Arrow batches to one
    numpy float64 matmul. Sign decisions are made EXACTLY: any projection
    within the worst-case reassociation error bound of zero is recomputed
    with the sequential left-to-right float64 fold the old expression
    used (IEEE-identical in Python), so the returned bucket ids are
    bit-for-bit the old ones at any data — the fast path only serves
    sign decisions the error bound proves unambiguous.

    The returned Column is marked ``asNondeterministic()`` — deliberate
    (see the call-site note: it pins ONE Arrow evaluation where the
    optimizer would duplicate the UDF around a pushed isnotnull). Spark
    rejects non-deterministic expressions in join CONDITIONS, so always
    project the bucket into a column (``withColumn("bucket", ...)``)
    before equi-joining on it — every in-repo consumer does."""
    import numpy as np

    _signs_for = _sign_table(num_planes)
    weights = np.array([1 << p for p in range(num_planes)], dtype=np.int64)

    @F.pandas_udf("long")
    def _sig(vs: pd.Series) -> pd.Series:
        out = np.zeros(len(vs), dtype=np.int64)
        lens = np.array([-1 if v is None else len(v) for v in vs])
        for d in np.unique(lens):
            if d <= 0:
                continue  # null/empty vector: every projection is 0 → bucket 0
            signs_d = _signs_for(d)                   # (d, planes)
            idx = np.nonzero(lens == d)[0]
            mat = np.array([np.asarray(vs.iloc[i], dtype=np.float64)
                            for i in idx])            # (n_d, d)
            proj = mat @ signs_d                      # (n_d, planes)
            # Exact-fold fallback wherever pairwise-summation error could
            # flip the sign: |reassociation error| <= d*eps*Σ|x| — below
            # that bound the matmul's sign IS the sequential fold's sign.
            bound = (np.abs(mat).sum(axis=1, keepdims=True)
                     * (4 * d * np.finfo(np.float64).eps))
            amb = np.nonzero(np.abs(proj) <= bound)
            for r, p in zip(*amb):
                acc = 0.0
                row, col = mat[r], signs_d[:, p]
                for j in range(d):
                    acc += row[j] * col[j]            # the old fold, exactly
                proj[r, p] = 1.0 if acc > 0 else -1.0 if acc < 0 else 0.0
            out[idx] = (proj > 0) @ weights
        return pd.Series(out)

    # Guide §4.4: the bucket column becomes an equi-join key, and the join's
    # injected isnotnull(bucket) predicate is pushed below the projection,
    # duplicating the UDF (two ArrowEvalPython per side). Non-deterministic
    # pins one evaluation; the isnotnull check still runs above it.
    return _sig.asNondeterministic()(F.col(vec_col))


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                      exclude_self: bool = True,
                      num_planes: int = 8, vec_col: str = "embedding",
                      id_col: str = "vec_id", query_id: str = "query_id") -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's LSH
    bucket. ~2^planes× less scoring work at the cost of recall; at scale,
    multi-probe (flip one bit) or repartition-by-bucket keeps skew bounded."""
    cb = corpus.withColumn("bucket", lsh_signature(vec_col, num_planes))
    qb = (queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"))
                 .withColumn("q_bucket", lsh_signature("q_vec", num_planes)))
    cond = F.col("bucket") == F.col("q_bucket")
    if exclude_self:  # assumes a shared id space, as in brute_force_topk
        cond = cond & (F.col(query_id) != F.col(id_col))
    scored = (cb.join(F.broadcast(qb), cond)
              .select(F.col(query_id), F.col(id_col),
                      F.round(cosine("q_vec", vec_col), 6).alias("score")))
    w = W.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact all-pairs baseline:
    every (a, b) with ``cosine >= threshold`` and ``id_a < id_b``.

    This is the verification primitive — O(n²) dot products — so run it on
    a bounded slice or on LSH candidates (:func:`embedding_neardup_candidates`
    is the 100 TB path, same contract, bucket-gated). The join condition
    ``id_a < id_b`` halves the work and Catalyst executes it as a broadcast
    nested loop when one side is small. Output: id_a, id_b, score.
    """
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(cosine("va", "vb"), 6).alias("score"))
             .filter(F.col("score") >= threshold))


def auto_planes(n_rows: int, min_planes: int = 8, avg_bucket: int = 8) -> int:
    """Corpus-size-adaptive hyperplane count: the smallest p with
    2^p >= ceil(n/avg_bucket), floored at ``min_planes`` — expected bucket
    occupancy stays ~``avg_bucket`` as the corpus grows, so within-bucket
    pair work stays LINEAR in n. A fixed plane count is quadratic
    (n²/2^p pairs): the r9 two-decade dry-run measured x_semdedup_keep at
    scaling exponent 1.18/decade with p frozen at 8. Integer-exact
    (bit_length), so the DuckDB oracle's count-of-powers replay
    (``_lsh_bucket_sql_adaptive``) agrees on every n."""
    m = max(1, (n_rows + avg_bucket - 1) // avg_bucket)
    return max(min_planes, (m - 1).bit_length())


def embedding_neardup_candidates(emb: DataFrame, threshold: float = 0.95,
                                 num_planes: int = 8,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id",
                                 avg_bucket: int | None = 8,
                                 n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup, LSH-gated (the scale path): bucket vectors
    by random-hyperplane signature, compare only same-bucket pairs with the
    exact cosine. Bucket join is an equi-join on a high-cardinality key —
    well-distributed shuffle, no all-pairs blowup; recall < 1 by design
    (near-identical vectors share all plane signs with high probability).

    With ``avg_bucket`` set (default), the plane count GROWS with the
    corpus — ``auto_planes`` — so bucket occupancy, and with it the
    within-bucket quadratic term, is bounded at any SF; ``num_planes``
    becomes the floor (at the sf0.01/sf0.1 gate sizes the result is
    bit-identical to the fixed-plane form). The corpus count is one
    bounded scalar to the driver, same discipline as the CC fixpoint.
    ``avg_bucket=None`` pins the fixed-plane form.

    The adaptive form needs the corpus cardinality, which makes this an
    ACTION at plan-construction time: pass a precomputed ``n_rows`` when
    composing several adaptive-LSH stages over the same frame (or when
    ``emb`` is an expensive derived frame) so the count is paid once,
    not once per stage.
    """
    if avg_bucket is not None:
        num_planes = auto_planes(emb.count() if n_rows is None else n_rows,
                                 num_planes, avg_bucket)
    sig = lsh_signature(vec_col, num_planes)
    tagged = emb.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))
    a = tagged.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                      "bucket")
    b = tagged.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                      F.col("bucket").alias("b_bucket"))
    return (a.join(b, (F.col("bucket") == F.col("b_bucket"))
                   & (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b",
                     F.round(cosine("va", "vb"), 6).alias("score"))
             .filter(F.col("score") >= threshold))


def semantic_leakage(corpus: DataFrame, bench: DataFrame,
                     threshold: float = 0.25, num_planes: int = 8,
                     avg_bucket: int | None = 8, n_rows: int | None = None,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Cross-set semantic contamination check — the embedding-space
    analog of n-gram decontamination (x_decontaminate): flag every
    (benchmark vector, corpus vector) pair whose cosine clears the
    threshold, so eval items with a semantic twin in the training pool
    are caught even when no n-gram overlaps (paraphrases, translations,
    re-chunked text). This is an ASYMMETRIC ANN join, not the self-join
    dedup shape: the benchmark side is small by definition, the corpus
    side is the 100 TB one.

    Scale shape: both sides bucket under the SAME corpus-adaptive
    hyperplane signature (``auto_planes`` on the CORPUS cardinality, so
    bucket occupancy — and the per-bucket join fan-out — stays bounded
    at any SF); the join is an equi-join on the bucket key with the
    bench side naturally broadcast-sized; exact cosines run only inside
    shared buckets. Recall < 1 by LSH design, but the candidate set is
    deterministic (md5-parity planes), so the DuckDB oracle replays the
    identical gated pairs. Pass ``n_rows`` when composing to pay the
    corpus count once. Output: (bench_id, corpus_id, score).
    """
    if avg_bucket is not None:
        num_planes = auto_planes(corpus.count() if n_rows is None else n_rows,
                                 num_planes, avg_bucket)
    c = (corpus.select(F.col(id_col).alias("corpus_id"),
                       F.col(vec_col).alias("vc"))
         .withColumn("bucket", lsh_signature("vc", num_planes)))
    b = (bench.select(F.col(id_col).alias("bench_id"),
                      F.col(vec_col).alias("vbm"))
         .withColumn("bucket", lsh_signature("vbm", num_planes)))
    return (b.join(c, "bucket")
            .select("bench_id", "corpus_id",
                    F.round(cosine("vbm", "vc"), 6).alias("score"))
            .filter(F.col("score") >= threshold))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_lists: int = 16, n_probe: int = 2, max_iter: int = 8,
             exclude_self: bool = True,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id: str = "query_id", seed: int = 42) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-partition the corpus
    into ``n_lists`` cells, probe only the ``n_probe`` cells nearest each
    query.

    The 100 TB shape: the corpus is scanned once to assign cells (pure JVM
    model.transform), then the search is an equi-join on ``cell`` — each
    query touches ~``n_probe/n_lists`` of the corpus instead of all of it,
    and the join key distributes the work. Centroids (n_lists × dim floats)
    are driver-small by construction and ship as literals to the query-side
    probe assignment. Training runs on a sample at scale
    (``KMeans.fit`` over 100 TB would itself be a job; standard practice is
    fitting on a few million sampled rows — parameterize upstream).

    Output: query_id, vec_id, score (exact cosine within probed cells), rk.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fc = corpus.select(F.col(id_col), F.col(vec_col),
                       array_to_vector(F.col(vec_col).cast("array<float>"))
                       .alias("_fv"))
    # Every KMeans iteration is a full pass over fc: persist it for the
    # duration of fit so the scan + array→vector conversion are paid once,
    # not max_iter times. Released right after — the single assignment
    # pass downstream re-derives it cheaply.
    fc = fc.persist()
    try:
        # Loose convergence is fine: cells only gate the candidate set
        # (recall knob is n_probe); each iteration is a job, so cap them.
        model = KMeans(k=n_lists, seed=seed, maxIter=max_iter,
                       featuresCol="_fv", predictionCol="cell").fit(fc)
        assigned = model.transform(fc).select(id_col, vec_col, "cell")
        assigned = assigned.localCheckpoint(eager=True)
    finally:
        fc.unpersist(blocking=False)

    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    centers_lit = F.array(*[
        F.struct(F.lit(i).alias("cell"),
                 F.array(*[F.lit(v) for v in c]).alias("cvec"))
        for i, c in enumerate(centers)])
    # Per query: squared L2 distance to every centroid (tiny inline array),
    # keep the n_probe nearest cells.
    q = queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"))
    probed = (q.withColumn("c", F.explode(centers_lit))
               .select(query_id, "q_vec", F.col("c.cell").alias("cell"),
                       F.aggregate(
                           F.zip_with(F.col("q_vec"), F.col("c.cvec"),
                                      lambda a, b: (a.cast("double") - b)
                                      * (a.cast("double") - b)),
                           F.lit(0.0), lambda acc, x: acc + x).alias("d2")))
    w_probe = W.partitionBy(query_id).orderBy(F.col("d2"), F.col("cell"))
    probes = (probed.withColumn("pr", F.row_number().over(w_probe))
              .filter(F.col("pr") <= n_probe)
              .select(query_id, "q_vec", "cell"))

    scored = assigned.join(probes, "cell")
    if exclude_self:  # assumes a shared id space, as in brute_force_topk
        scored = scored.filter(F.col(query_id) != F.col(id_col))
    scored = scored.select(F.col(query_id), F.col(id_col),
                           F.round(cosine("q_vec", vec_col), 6).alias("score"))
    w = W.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


def norm_stats_by_label(emb: DataFrame, vec_col: str = "embedding",
                        label_col: str = "label") -> DataFrame:
    """Embedding-column hygiene stats: per-label count and L2-norm min/mean/max
    (rounded for oracle comparison)."""
    withn = emb.select(F.col(label_col), _norm(vec_col).alias("nrm"))
    return (withn.groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.avg("nrm"), 6).alias("avg_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm"))
            .orderBy(label_col))


def quantize_int8(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving format
    for embedding corpora at 100 TB (4× smaller than float32, SIMD-friendly
    dot products): q[i] = round(v[i] / scale), scale = max|v| / 127.

    Pure map-side higher-order expressions: no shuffle, no UDF. The scale
    division and rounding are per-element double ops (same IEEE expression
    tree both engines); an all-zero vector keeps scale 0 and quantizes to
    zeros rather than dividing by zero. The quantized vector leaves the
    operator as an md5 fingerprint of its comma-joined values plus L1 mass
    — byte-exact oracle evidence without hashing raw arrays.

    Output: id, dim, scale (6 dp), q_l1, q_fp.
    """
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = max_abs / F.lit(127.0)
    q = F.when(max_abs == 0,
               F.transform(v, lambda x: F.lit(0).cast("bigint"))) \
         .otherwise(F.transform(
             v, lambda x: F.round(x.cast("double") / scale).cast("bigint")))
    return emb.select(
        F.col(id_col),
        F.size(v).cast("bigint").alias("dim"),
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.abs(x)).alias("q_l1"),
        F.md5(F.concat_ws(",", q)).alias("q_fp"))


def lsh_multiprobe_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        exclude_self: bool = True, num_planes: int = 8,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        query_id: str = "query_id") -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS the
    ``num_planes`` Hamming-distance-1 buckets (one sign bit flipped) —
    the standard recall lever for hyperplane LSH: a near neighbor that
    landed one plane away is recovered at (planes+1)× probe cost instead
    of duplicating index tables.

    Scale shape: the probe expansion happens on the QUERY side (tiny),
    exploded to (planes+1) rows per query and broadcast; the corpus is
    bucketed once map-side and never shuffles. Deterministic md5-parity
    planes + measured sign margins make the probed candidate set — and
    therefore the whole result — exactly reproducible in the SQL oracle.
    """
    cb = corpus.withColumn("bucket", lsh_signature(vec_col, num_planes))
    q = (queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"))
                .withColumn("q_bucket", lsh_signature("q_vec", num_planes)))
    flips = F.array(F.lit(0), *[F.lit(1 << p) for p in range(num_planes)])
    probes = (q.select(query_id, "q_vec", "q_bucket",
                       F.explode(flips).alias("flip"))
               .select(query_id, "q_vec",
                       F.col("q_bucket").bitwiseXOR(F.col("flip"))
                        .alias("probe_bucket")))
    cond = F.col("bucket") == F.col("probe_bucket")
    if exclude_self:  # shared id space, as in brute_force_topk
        cond = cond & (F.col(query_id) != F.col(id_col))
    scored = (cb.join(F.broadcast(probes), cond)
              .select(F.col(query_id), F.col(id_col),
                      F.round(cosine("q_vec", vec_col), 6).alias("score")))
    w = W.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


def semdedup_keep(emb: DataFrame, threshold: float = 0.3,
                  num_planes: int = 8, vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  avg_bucket: int | None = 8,
                  n_rows: int | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup keep-list (Abbas et al. 2023): prune
    embedding-space near-duplicates, keeping one representative per
    semantic cluster. Cluster structure comes from the deterministic
    hyperplane-LSH buckets (the coarse "k-means cell" analog that needs no
    trained centroids), within-bucket pairs above the cosine threshold form
    the duplicate graph, connected components collapse transitive chains,
    and the smallest id anchors each component — the same keep-one policy
    as :func:`~..functions.dedup.neardup_keep`, so text- and
    embedding-dedup outputs compose.

    Plan shape: bucket equi-join (never all-pairs) → pair-scale CC fixpoint
    (executor-side, one scalar to the driver per round) → ids-only
    anti-join against the corpus, join strategy left to AQE. Output:
    (id, is_canonical) — kept vectors only.
    """
    from .graph import connected_components
    pairs = embedding_neardup_candidates(emb, threshold, num_planes,
                                         vec_col, id_col,
                                         avg_bucket=avg_bucket,
                                         n_rows=n_rows)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    drop = (cc.filter(F.col("node") != F.col("label"))
              .select(F.col("node").alias(id_col)))
    anchors = (cc.filter(F.col("node") == F.col("label"))
                 .select(F.col("node").alias(id_col),
                         F.lit(True).alias("is_canonical")))
    return (emb.select(id_col)
            .join(drop, id_col, "left_anti")
            .join(anchors, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("is_canonical"), F.lit(False))
                     .alias("is_canonical")))


def label_centroids(emb: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label mean embedding — the class-prototype / coarse-quantizer
    primitive (IVF cell centers, nearest-class-mean classifiers, cluster
    summaries) in EXACT arithmetic: components become e6-scaled BIGINTs
    map-side, so the per-(label, dim) sums are partition-order-independent
    and the DuckDB oracle hash-matches; the mean divides the exact sum
    once at the end.

    Plan shape: ``posexplode`` multiplies rows by dim, but per-partition
    partial aggregation collapses them before the ONE shuffle, whose
    cardinality is |labels| × dim — bounded, independent of corpus size.
    Output: (label, dim, n_vecs, sum_e6, mean_val), long form — pivot to
    vectors at the consumer if needed.
    """
    e = emb.select(F.col(label_col),
                   F.posexplode(F.col(vec_col)).alias("dim", "v"))
    v_e6 = F.round(F.col("v").cast("double") * 1_000_000).cast("bigint")
    return (e.groupBy(label_col, F.col("dim").cast("bigint").alias("dim"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.sum(v_e6).cast("bigint").alias("sum_e6"))
            .withColumn("mean_val",
                        F.round(F.col("sum_e6").cast("double")
                                / F.col("n_vecs") / 1_000_000.0, 6)))


def kmeans_assign(emb: DataFrame, k: int = 4, iters: int = 2,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Deterministic Lloyd k-means over the embedding corpus (the
    clustering primitive behind cluster-balanced curation — SemDeDup's
    cluster stage, DoReMi-style domain discovery, cluster-stratified
    eval splits) with EVERY step in exact integer arithmetic so the
    DuckDB oracle replays it hash-for-hash:

    - components quantize map-side to e6 BIGINTs (the repo's fixed-point
      contract; sums become partition-order-independent),
    - init = the ``k`` lowest ``id_col`` vectors, cluster index in id
      order (no RNG — deterministic replay),
    - assignment = argmin of the EXACT integer squared L2 distance with
      (dist, cluster) lexicographic tie-break,
    - update = per-(cluster, dim) integer mean via the positive-offset
      division ``((sum + OFF*n) div n) - OFF`` (Spark ``div`` and DuckDB
      ``//`` both truncate toward zero — measured, not floored — so they
      already agree; the offset pins the numerator positive as a belt-
      and-suspenders guard and keeps the rounding direction of the mean
      uniform across signs); empty clusters keep their previous centroid
      (LEFT JOIN + coalesce, as scalable kmeans does).

    Scale shape: the corpus appears only in (a) the e6 explode — linear,
    collapsed by partial aggs before the one |k|x|dims| shuffle — and
    (b) the assignment join against a BROADCAST centroid table (k*dims
    rows). Each iteration's centroid frame is near-constant-sized and
    localCheckpointed so the unrolled lineage stays flat. iters is a
    small constant (Lloyd converges fast; pipelines cap it), so the
    whole job is O(iters * corpus) with no corpus-keyed self-join.

    Output: (vec_id, cluster INT, dist BIGINT) — final assignment under
    the iters-times-updated centroids; dist is the exact e6^2-scaled
    squared distance.
    """
    v = _km_explode(emb, vec_col, id_col)
    cent = _lloyd_train(emb, v, k, iters, id_col)
    final = _km_assign(v, cent, id_col)
    return final.select(F.col(id_col), F.col("cluster").cast("int"),
                        F.col("dist").cast("bigint"))


# offset large enough that sum + OFF*n > 0 for any |component| < 1000
# (e6-scaled): keeps both engines in the positive-quotient regime.
_KM_OFF = 1_000_000_000


def _km_explode(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, dim, v): the map-side e6 quantization of a vector frame."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"transform({vec_col}, x -> "
            f"cast(round(cast(x as double) * 1000000) as bigint))"))
        .alias("dim", "v"))


def _km_assign(vv: DataFrame, centroids: DataFrame, id_col: str,
               extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Argmin assignment of exploded vectors against a broadcast centroid
    table: exact integer squared L2, (dist, cluster) lexicographic
    tie-break. Returns (id, *extra_keys, cluster, dist).

    ``extra_keys`` widens the per-vector group key so DISJOINT frames can
    be assigned in ONE pass after a tagged union: grouping on (id, tag)
    partitions the union exactly as the two separate assignments would —
    provably identical output even when an id appears on both sides.

    The squared-term sum accumulates in DECIMAL(38,0): each dd*dd fits
    int64 for the documented |component| < 1000 e6-scaled domain, but a
    64-dim SUM of 4e18-scale terms does not — non-ANSI Spark would wrap
    silently where DuckDB promotes to HUGEINT, diverging the oracle."""
    keys = [id_col, *extra_keys]
    d = (vv.join(F.broadcast(centroids), "dim")
           .withColumn("dd", F.col("v") - F.col("c"))
           .groupBy(*keys, "cluster")
           .agg(F.sum(F.expr("cast(dd as decimal(38,0)) * dd"))
                .alias("dist")))
    return (d.groupBy(*keys)
             .agg(F.min(F.struct("dist", "cluster")).alias("m"))
             .select(*[F.col(c) for c in keys],
                     F.col("m.cluster").alias("cluster"),
                     F.col("m.dist").alias("dist")))


def _km_mean_update(cent: DataFrame, sums: DataFrame) -> DataFrame:
    """Move each centroid to the exact integer mean of its members
    (positive-offset truncating division; DECIMAL(38,0) member sums —
    corpus-linear accumulators get 128 bits, matching DuckDB's HUGEINT
    promotion); clusters with no members keep their previous centroid.
    Checkpointed: the frame is |k x dims|-bounded and anchors the next
    iteration's lineage."""
    return (cent.select("cluster", "dim", F.col("c").alias("c_prev"))
            .join(sums, ["cluster", "dim"], "left")
            .select("cluster", "dim",
                    F.coalesce(
                        F.expr(f"((s + {_KM_OFF}L * n) div n) - {_KM_OFF}L"),
                        F.col("c_prev")).alias("c"))
            # Lazy: the |k x dims| frame still materializes exactly once
            # (first consumer = next iteration's broadcast assign) and is
            # reused by the update join — but the loop submits no job of
            # its own (measured: x_kmeans_assign 2.79 -> 2.47 s).
            .localCheckpoint(eager=False))


def _km_member_sums(vv: DataFrame, asg: DataFrame,
                    id_col: str) -> DataFrame:
    """Per-(cluster, dim) member sums + counts for a mean update."""
    return (vv.join(asg.select(id_col, "cluster"), id_col)
            .groupBy("cluster", "dim")
            .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
                 F.count(F.lit(1)).alias("n")))


def _lloyd_train(df: DataFrame, vv: DataFrame, k: int, iters: int,
                 id_col: str) -> DataFrame:
    """``iters`` Lloyd rounds from the k-lowest-id init; returns the
    final |k x dims| centroid frame (checkpointed)."""
    from pyspark.sql import Window as W
    # init: k lowest ids -> cluster 0..k-1 in id order. The unpartitioned
    # window runs over exactly k rows (post-limit) — bounded by contract.
    init = (df.select(id_col).orderBy(id_col).limit(k)
            .withColumn("cluster",
                        (F.row_number().over(W.orderBy(id_col)) - 1)
                        .cast("int")))
    cent = (vv.join(init, id_col)
              .select("cluster", "dim", F.col("v").alias("c"))
              .localCheckpoint(eager=True))
    for _ in range(iters):
        asg = _km_assign(vv, cent, id_col)
        cent = _km_mean_update(cent, _km_member_sums(vv, asg, id_col))
    return cent


def kmeans_incremental(base: DataFrame, delta: DataFrame, k: int = 4,
                       iters: int = 2, vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Incremental k-means maintenance — the ingest-day step of a
    cluster-balanced curation pipeline (web-scale mini-batch k-means,
    Sculley WWW'10, in its exact-replay form): centroids are trained on
    the BASE corpus by :func:`kmeans_assign`'s Lloyd loop, then a DELTA
    batch arrives and each touched centroid moves to the exact integer
    mean over (its base members + its newly-assigned delta members) —
    one pass over the delta plus |k x dims|-bounded arithmetic, never a
    base re-train. Output: final (vec_id, cluster, dist, is_delta) for
    the UNION corpus under the updated centroids, so downstream
    selection sees one consistent clustering.

    Same exactness contract as kmeans_assign (e6 integers, truncating
    division via the positive-offset form, lexicographic argmin
    tie-break); the DuckDB oracle replays base training, delta
    assignment, the merged-mean update, and the final union assignment.

    Scale shape: base appears in the Lloyd loop (broadcast-centroid
    assignment joins) and ONCE more for the merged means; delta is one
    explode + one broadcast-assignment join; the update itself is
    |k x dims| arithmetic.
    """
    # --- base training: the shared Lloyd core ---------------------------
    vb = _km_explode(base, vec_col, id_col)
    cent = _lloyd_train(base, vb, k, iters, id_col)
    # --- delta step: assign delta, move centroids to the merged mean ----
    vd = _km_explode(delta, vec_col, id_col)
    # Base and delta are assigned in ONE fused pass over the tagged union:
    # grouping on (id, is_delta) partitions the union exactly as the two
    # separate assignments would (identical output even if an id appears
    # on both sides), and each of the three remaining stages — merged-mean
    # sums, and the two fused assignment passes — is one scan instead of
    # two. No checkpoint on the assignment: it has exactly ONE consumer
    # (the merged-mean join below).
    vu = (vb.withColumn("is_delta", F.lit(False))
            .unionByName(vd.withColumn("is_delta", F.lit(True))))
    asg_u = (_km_assign(vu, cent, id_col, extra_keys=("is_delta",))
             .select(id_col, "is_delta", "cluster"))
    merged = (vu.join(asg_u, [id_col, "is_delta"])
              .groupBy("cluster", "dim")
              .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
                   F.count(F.lit(1)).alias("n")))
    cent2 = _km_mean_update(cent, merged)
    # --- final: one consistent assignment of the union corpus -----------
    out = _km_assign(vu, cent2, id_col, extra_keys=("is_delta",))
    return out.select(F.col(id_col), F.col("cluster").cast("int"),
                      F.col("dist").cast("bigint"), "is_delta")


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — Spark ``div`` / DuckDB
    ``//`` semantics (Python's ``//`` floors, which differs for negative
    quotients; driver-side math must match the engines)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def pca_project(emb: DataFrame, iters: int = 6, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Projection of every vector onto the corpus's dominant principal
    component — the 1-D quality/outlier axis used for embedding-space
    corpus triage (ordering by PC1 exposes cluster structure and
    off-manifold outliers) — computed deterministically in EXACT integer
    arithmetic end to end so the DuckDB oracle replays it hash-for-hash:

    - components quantize to e6 BIGINTs; per-dim means are truncating
      integer divisions of exact sums,
    - the mean-centered second-moment matrix C (d x d = 4096 entries) is
      one map-side pair-product flatten per row collapsed by partial
      aggregation into a |d^2|-bounded shuffle — the dense-Gramian cost
      (d^2 multiplies per row) that RowMatrix.computeGramian pays too;
      entries are averaged then e6-rescaled with truncating division,
    - the dominant eigenvector comes from ``iters`` fixed power-iteration
      steps on that 4096-int matrix, DRIVER-side (a bounded trained
      artifact, same pattern as the PQ codebooks): w = C v, then rescale
      by max|w| div 1e6 in truncating arithmetic; init v0 = all-1e6,
      no RNG,
    - the projection joins nothing: score = sum_d (x_d - mean_d) * v_d
      with the 64 means and 64 eigenvector components inlined as
      literals — map-side over the corpus, embarrassingly parallel.

    Overflow discipline (the x_share_report rule: corpus-LINEAR sums get
    128-bit accumulators, per-row terms don't need them): the per-dim
    mean sums and the per-(i,j) product sums grow with N (products are
    ~2^41 each, so Spark's non-ANSI SUM(bigint) would wrap silently at
    N ~ 2^22 vectors) — both aggregate as DECIMAL(38,0), matching
    DuckDB's automatic HUGEINT promotion. Post-aggregate quotients
    (mean < 2^20, C6 < 2^21) and the driver-side iteration products
    (< 2^47) fit comfortably in 64 bits.

    Output: (vec_id, pc1 BIGINT) — e12-scaled projection onto the
    (unnormalized, deterministic-scale) dominant eigenvector.
    """
    d6, den = 1_000_000, 1_000_000
    v = emb.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"transform({vec_col}, x -> "
            f"cast(round(cast(x as double) * {d6}) as bigint))"))
        .alias("dim", "x"))
    means = (v.groupBy("dim")
              .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
                   F.count(F.lit(1)).alias("n"))
              .select("dim", F.expr("s div n").alias("m"))
              .collect())
    mean_arr = [0] * (max(r["dim"] for r in means) + 1)
    for r in means:
        mean_arr[r["dim"]] = r["m"]
    mean_lit = "array(" + ",".join(f"{m}L" for m in mean_arr) + ")"
    xc = (emb.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, (x, i) -> "
               f"cast(round(cast(x as double) * {d6}) as bigint) "
               f"- element_at({mean_lit}, i + 1))").alias("xc")))
    pairs = xc.select(F.explode(F.expr(
        "flatten(transform(xc, (a, i) -> transform(xc, (b, j) -> "
        "struct(i, j, a * b as p))))")).alias("e")) \
        .select(F.col("e.i").alias("i"), F.col("e.j").alias("j"),
                F.col("e.p").alias("p"))
    cov_rows = (pairs.groupBy("i", "j")
                .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .select("i", "j",
                        F.expr(f"(s div n) div {den}").alias("c"))
                .collect())
    d = len(mean_arr)
    C = [[0] * d for _ in range(d)]
    for r in cov_rows:
        C[r["i"]][r["j"]] = r["c"]
    vec = [d6] * d
    for _ in range(iters):
        w = [sum(C[i][j] * vec[j] for j in range(d)) for i in range(d)]
        scale = _tdiv(max(abs(x) for x in w), d6)
        if scale > 0:
            w = [_tdiv(x, scale) for x in w]
        vec = w
    v_lit = "array(" + ",".join(f"{x}L" for x in vec) + ")"
    proj = F.expr(
        f"aggregate(zip_with(transform({vec_col}, (x, i) -> "
        f"cast(round(cast(x as double) * {d6}) as bigint) "
        f"- element_at({mean_lit}, i + 1)), {v_lit}, "
        f"(a, b) -> a * b), 0L, (acc, e) -> acc + e)")
    return (emb.select(F.col(id_col), proj.cast("bigint").alias("pc1"))
            .orderBy(id_col))


def _int8_array(v: Column) -> Column:
    """Symmetric per-vector int8 code array (quantize_int8's q, kept as an
    array for dot products instead of fingerprinted)."""
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = max_abs / F.lit(127.0)
    return F.when(max_abs == 0,
                  F.transform(v, lambda x: F.lit(0).cast("bigint"))) \
            .otherwise(F.transform(
                v, lambda x: F.round(x.cast("double") / scale)
                              .cast("bigint")))


def int8_rerank_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     shortlist: int = 20, num_planes: int = 8,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: (1) LSH
    buckets gate candidates (never all-pairs), (2) a CHEAP exact-integer
    int8 dot product ranks them and keeps a ``shortlist`` per query,
    (3) full-precision cosine reranks only the shortlist and emits top-k.
    At 100 TB the int8 stage reads the 4×-smaller quantized corpus and the
    float vectors are fetched only for shortlist×queries rows — the
    memory/IO asymmetry that makes reranking worth the second pass.

    Both ranking keys are deterministic (exact BIGINT dot, then 6-dp
    cosine, ties broken by id), so the full two-stage cascade is
    hash-checkable cross-engine. Output: (query_id, vec_id, coarse_dot,
    score, rk).
    """
    from pyspark.sql import Window as W
    sig = lsh_signature(vec_col, num_planes)
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("cv"), sig.alias("bucket"),
                      _int8_array(F.col(vec_col)).alias("cq"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       sig.alias("q_bucket"),
                       _int8_array(F.col(vec_col)).alias("qq"))
    cand = q.join(c, (F.col("q_bucket") == F.col("bucket"))
                  & (F.col("query_id") != F.col("vec_id")))
    coarse = F.aggregate(
        F.zip_with("qq", "cq", lambda a, b: a * b),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    w1 = W.partitionBy("query_id").orderBy(F.col("coarse_dot").desc(),
                                           F.col("vec_id"))
    short = (cand.withColumn("coarse_dot", coarse)
             .withColumn("crk", F.row_number().over(w1))
             .filter(F.col("crk") <= shortlist))
    w2 = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                           F.col("vec_id"))
    return (short.withColumn("score", F.round(cosine("qv", "cv"), 6))
            .withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("query_id", "vec_id", "coarse_dot", "score", "rk"))


def _int_l2(a: str | Column, b: str | Column) -> Column:
    """Exact squared-L2 distance between two BIGINT arrays (sequential fold;
    every term is integer arithmetic, so the result is engine-independent)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def quantize_e6(vec: str | Column) -> Column:
    """float array → e6 fixed-point BIGINT array (round half away from zero,
    matching DuckDB's round(DOUBLE)). Shared by the deterministic IVF path
    and its oracle convention."""
    cv = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        cv, lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"))


def _lit_matrix(rows: "list[list[int]]") -> Column:
    """Literal array<array<bigint>> built from ONE SQL-string parse.
    Composing it from nested F.array(F.lit(...)) issues a Py4J round trip
    per element — measured ~6 s of pure plan-construction for a 16×32×4
    codebook; one F.expr parse is milliseconds."""
    body = ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in row) + ")" for row in rows)
    return F.expr(f"array({body})")


def _lloyd_local(vecs: "list[list[int]]", n_lists: int,
                 iters: int) -> "list[tuple[int, list[int]]]":
    """Integer Lloyd on a driver-bounded training sample, bit-identical to
    the distributed/SQL recurrence: argmin ties (d2, cell); centroid
    update = elementwise ``sum div count`` with division TRUNCATING toward
    zero (Spark ``div`` / DuckDB ``//`` — numpy's ``//`` floors, so
    negatives are routed through ``-((-s) // c)``); an emptied cell keeps
    its previous centroid. All int64 — no float enters, so the result is
    engine-independent."""
    import numpy as np
    x = np.asarray(vecs, dtype=np.int64)                  # (n, dim)
    cents = x[:n_lists].copy()                            # seeds = first k
    for _ in range(iters):
        # d2[i, c] = ||x_i - cent_c||²; argmin takes the FIRST minimal
        # index — exactly the (d2, cell) tie-break.
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cell = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[cell == c]
            if len(members):
                s, cnt = members.sum(axis=0), len(members)
                cents[c] = np.where(s < 0, -((-s) // cnt), s // cnt)
    return [(c, [int(v) for v in row]) for c, row in enumerate(cents)]


def ivf_topk_exact(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   n_lists: int = 16, n_probe: int = 2, iters: int = 3,
                   exclude_self: bool = True, train_max: int | None = None,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   query_id: str = "query_id") -> DataFrame:
    """IVF ANN with a DETERMINISTIC, SQL-replayable trainer: integer Lloyd.

    ``ivf_topk`` (above) trains with MLlib KMeans — fast, but float centroid
    arithmetic has no DuckDB analog, so its oracle was rows-only. This
    variant makes the whole operator hash-checkable (the x_pagerank recipe,
    graph.py `pagerank`): vectors quantize to e6 BIGINT fixed-point, seeds
    are the ``n_lists`` corpus vectors with the smallest
    ``md5(cast(id as string))`` (a TakeOrdered, never a global sort), and a
    FIXED number of Lloyd iterations runs in exact integer arithmetic —
    squared-L2 in BIGINT, centroid update = elementwise ``sum div count``
    (truncating division, identical in Spark `div` and DuckDB `//`), ties
    broken (d2, cell). Every step is order-independent integer math, so
    DuckDB replays the centroids bit-for-bit.

    ``train_max`` — the 100 TB lever (and the FAISS convention: IVF never
    trains on the full corpus). When set, the training sample is the
    ``train_max`` corpus vectors with the smallest ``(md5(id), id)`` — a
    TakeOrdered per-partition heap, never a global sort — collected ONCE
    (≤ train_max × dim ints, driver-bounded by construction) and Lloyd
    runs locally in exact int64 (:func:`_lloyd_local`, bit-identical to
    the SQL recurrence). The FULL corpus is then distance-assigned exactly
    once with the final centroids: one corpus-wide distance pass total,
    instead of ``iters + 1``, and training cost independent of corpus
    size. The sample rule is part of the operator's definition, so the
    DuckDB oracle replays the identical training set and the hash check
    is preserved.

    Scale shape: centroids are driver-small (n_lists × dim ints); the
    corpus-wide assignment is a broadcast crossJoin arg-min (the corpus
    never shuffles); the final search is an equi-join on ``cell`` probing
    n_probe/n_lists of the corpus.

    Output: query_id, vec_id, score (exact cosine within probed cells), rk.
    """
    spark = corpus.sparkSession
    qv = corpus.select(F.col(id_col), F.col(vec_col),
                       quantize_e6(vec_col).alias("q6"))
    if train_max is None:
        # reused every training iteration + the final scan
        qv = qv.localCheckpoint(eager=True)

    seed_rows = (qv.select("q6",
                           F.md5(F.col(id_col).cast("string")).alias("h"),
                           F.col(id_col))
                   .orderBy("h", id_col)
                   .limit(train_max if train_max is not None else n_lists)
                   .collect())

    dim = len(seed_rows[0]["q6"])
    cent_schema = "cell INT, cvec ARRAY<BIGINT>"

    def _assign(cents_df: DataFrame, frame: DataFrame) -> DataFrame:
        # id_col is unique, so first(q6) rides along with the arg-min —
        # training never has to join assignments back to the corpus.
        return (frame.crossJoin(F.broadcast(cents_df))
                  .withColumn("d2", _int_l2("q6", "cvec"))
                  .groupBy(id_col)
                  .agg(F.min_by("cell", F.struct("d2", "cell")).alias("cell"),
                       F.first("q6").alias("q6")))

    if train_max is not None:
        # Seeds are the first n_lists of the sample (same md5 order), so
        # one TakeOrdered supplies both sample and seeds.
        cents = _lloyd_local([list(r["q6"]) for r in seed_rows],
                             n_lists, iters)
    else:
        cents = [(i, list(r["q6"])) for i, r in enumerate(seed_rows)]
        for _ in range(iters):
            cents_df = spark.createDataFrame(cents, cent_schema)
            assigned = _assign(cents_df, qv)
            # Elementwise mean WITHOUT posexplode: dim is statically
            # known, so the centroid update is ONE aggregate of dim
            # sum-columns per cell (map-side partials, one tiny shuffle of
            # |cells| rows) instead of shuffling corpus × dim exploded
            # rows per iteration.
            new = {r["cell"]: [r[f"m{i}"] for i in range(dim)] for r in
                   (assigned.groupBy("cell")
                            .agg(*[F.expr(f"sum(q6[{i}]) div count(*)")
                                   .alias(f"m{i}") for i in range(dim)])
                            .collect())}
            # A cell that lost all members keeps its previous centroid.
            cents = [(c, list(new.get(c, old))) for c, old in cents]

    cents_df = spark.createDataFrame(cents, cent_schema)
    if train_max is not None:
        # The trained centroids are a driver-known bounded artifact, so
        # the corpus-wide assignment needs NO join and NO shuffle at all:
        # one map-side arg-min over the literal centroid matrix (same
        # integer d2, same (d2, cell) tie-break — the lexicographic
        # array_min over (d2, cell) structs, cell loop as a runtime
        # transform lambda). One scan, embedding carried for the cosine.
        clit = _lit_matrix([cvec for _, cvec in cents])
        cell = F.array_min(
            F.transform(clit, lambda cv, i: F.struct(
                F.aggregate(
                    F.zip_with(F.col("q6"), cv,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("bigint"), lambda acc, x: acc + x)
                 .alias("d2"),
                i.cast("int").alias("cell"))))["cell"]
        assigned = qv.select(id_col, vec_col, cell.alias("cell"))
    else:
        assigned = (_assign(cents_df, qv).drop("q6")
                    .join(qv.select(id_col, vec_col), id_col))

    q = queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"),
                       quantize_e6(vec_col).alias("qq6"))
    probed = (q.crossJoin(F.broadcast(cents_df))
                .withColumn("d2", _int_l2("qq6", "cvec")))
    w_probe = W.partitionBy(query_id).orderBy("d2", "cell")
    probes = (probed.withColumn("pr", F.row_number().over(w_probe))
              .filter(F.col("pr") <= n_probe)
              .select(query_id, "q_vec", "cell"))

    scored = assigned.join(probes, "cell")
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col(id_col))
    scored = scored.select(F.col(query_id), F.col(id_col),
                           F.round(cosine("q_vec", vec_col), 6).alias("score"))
    w = W.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


def pq_train_books(corpus: DataFrame, m: int = 16, ks: int = 32,
                   iters: int = 2, train_max: int = 512,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> list:
    """Train the ``m`` per-subspace integer-Lloyd codebooks on the bounded
    md5-smallest sample (the :func:`pq_topk_exact` trainer, factored out
    so a persisted index can train ONCE and serve many queries). Returns
    the plain ``m x ks x d`` nested int list — a bounded trained artifact
    (m*ks*d ints, corpus-size-independent) that round-trips through a
    1-row parquet and replays bit-for-bit in SQL."""
    qv = corpus.select(F.col(id_col), quantize_e6(vec_col).alias("q6"))
    sample_rows = (qv.select(
                       "q6", F.md5(F.col(id_col).cast("string")).alias("h"),
                       F.col(id_col))
                     .orderBy("h", id_col).limit(train_max).collect())
    sample = [list(r["q6"]) for r in sample_rows]
    dim = len(sample[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    # Per-subspace codebooks: same sample, same seed rule (first ks rows
    # of the md5 order), same integer recurrence — just on subvectors.
    books = [_lloyd_local([v[s * d:(s + 1) * d] for v in sample], ks, iters)
             for s in range(m)]
    return [[list(cvec) for _, cvec in b] for b in books]


def _pq_books_df(spark: SparkSession, books: list) -> DataFrame:
    """The codebook travels as ONE broadcast DATA row (m x ks x d nested
    array), never as literal expression nodes: a literal codebook is
    ~64k plan nodes and Catalyst analysis alone cost ~4.5 s per build
    (and the per-codeword unrolled form before it OOMed the driver)."""
    return spark.createDataFrame([(books,)], "B array<array<array<bigint>>>")


def _pq_d2(sub: Column, cvec: Column) -> Column:
    """Exact integer squared L2 between two e6 subvectors."""
    return F.aggregate(
        F.zip_with(sub, cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def pq_encode(corpus: DataFrame, books: list,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """One map-side encode pass: ``id_col, codes`` — ``m`` small ints per
    vector (m=16, ks=32: 80 bits), the persisted PQ index artifact. The
    corpus never shuffles; the argmin over codewords is a runtime
    transform lambda over the broadcast codebook row."""
    d = len(books[0][0])
    bdf = _pq_books_df(corpus.sparkSession, books)
    qv = corpus.select(F.col(id_col), quantize_e6(vec_col).alias("q6"))
    # codes[s] = argmin over codewords of d2(subvector s, codeword) —
    # (d2, code) lexicographic array_min is the shared tie-break.
    codes_col = F.transform(
        F.col("B"), lambda book, s: F.array_min(
            F.transform(book, lambda cv, i: F.struct(
                _pq_d2(F.slice(F.col("q6"), s * d + 1, F.lit(d)),
                       cv).alias("d2"),
                i.cast("int").alias("code"))))["code"])
    return (qv.crossJoin(F.broadcast(bdf))
              .select(id_col, codes_col.alias("codes")))


def pq_adc_topk(codes: DataFrame, books: list, queries: DataFrame,
                corpus: DataFrame | None = None, k: int = 5,
                shortlist: int | None = None, exclude_self: bool = True,
                vec_col: str = "embedding", id_col: str = "vec_id",
                query_id: str = "query_id") -> DataFrame:
    """Asymmetric-distance top-k over an ALREADY-ENCODED code table — the
    scan a persisted PQ index serves at 100 TB: ADC reads only the
    80-bit codes (plus the broadcast per-query integer lookup tables);
    raw embeddings are touched only for the ``shortlist`` rerank rows
    (``corpus`` required iff ``shortlist`` is set). Same semantics and
    output schema as :func:`pq_topk_exact`'s scoring stage."""
    spark = codes.sparkSession
    d = len(books[0][0])
    bdf = _pq_books_df(spark, books)
    # Per-query ADC tables: dt[s][c] = d2(query subvector s, codeword c).
    q = queries.select(F.col(query_id), quantize_e6(vec_col).alias("qq6"))
    dt = F.transform(
        F.col("B"), lambda book, s: F.transform(
            book, lambda cv: _pq_d2(
                F.slice(F.col("qq6"), s * d + 1, F.lit(d)), cv)))
    qt = (q.crossJoin(F.broadcast(bdf))
            .select(query_id, dt.alias("dt")))

    scored = codes.crossJoin(F.broadcast(qt))
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col(id_col))
    adc = F.aggregate(
        F.zip_with("dt", "codes", lambda row, c: F.element_at(row, c + 1)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    w = W.partitionBy(query_id).orderBy("adc_d2", id_col)
    ranked = scored.withColumn("adc_d2", adc).withColumn(
        "rk", F.row_number().over(w))
    if shortlist is None:
        return (ranked.filter(F.col("rk") <= k)
                .select(query_id, id_col, "adc_d2", "rk"))
    # Two-stage: ADC shortlist (queries × shortlist rows — tiny), then
    # exact cosine over ONLY those rows; both small sides broadcast.
    cand = (ranked.filter(F.col("rk") <= shortlist)
            .select(query_id, id_col))
    qv_full = queries.select(F.col(query_id),
                             F.col(vec_col).alias("q_vec"))
    rer = (cand.join(corpus.select(id_col, vec_col), id_col)
           .join(F.broadcast(qv_full), query_id)
           .select(query_id, id_col,
                   F.round(cosine("q_vec", vec_col), 6).alias("score")))
    w2 = W.partitionBy(query_id).orderBy(F.col("score").desc(), id_col)
    return (rer.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


def pq_topk_exact(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  m: int = 16, ks: int = 32, iters: int = 2,
                  train_max: int = 512, shortlist: int | None = None,
                  exclude_self: bool = True,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  query_id: str = "query_id") -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product quantization for
    nearest neighbor search", TPAMI 2011) with a fully DETERMINISTIC,
    SQL-replayable trainer — the other half of the FAISS-standard IVF+PQ
    pair (:func:`ivf_topk_exact` is the coarse half).

    The vector splits into ``m`` subspaces of ``dim/m`` components; each
    subspace gets its own ``ks``-codeword codebook (integer Lloyd on the
    bounded md5-smallest sample, :func:`_lloyd_local` — identical seeds
    rule and recurrence as IVF, run per subspace). Each corpus vector
    encodes to ``m`` small codes (m=16, ks=32: 80 bits per 64-dim vector,
    a ~50× compression of the e6 representation), and queries rank
    candidates by ASYMMETRIC distance: the exact integer d2 between the
    query subvector and the candidate's CODEWORD, summed over subspaces —
    the classic ADC lookup-table scan, realized as a zip_with/element_at
    expression over the broadcast per-query distance table. Everything
    stays int64, so DuckDB replays codebooks, codes and ranking
    bit-for-bit.

    ``shortlist``: the production two-stage shape (the int8 rerank-cascade
    pattern) — ADC keeps the ``shortlist`` best codes per query, then
    EXACT cosine re-ranks only those rows to the final ``k``. Measured on
    the fixture (unit-norm vectors, so ADC-L2 and cosine agree up to
    quantization error): pure ADC recall@5 ≈ 0.5; shortlist=50 + rerank
    ≈ 0.94. ``None`` = pure ADC ranking (output adc_d2 instead of score).

    Scale shape: training is driver-local over a bounded sample (corpus-
    size-independent); ENCODING is one map-side pass (the argmin over
    m × ks literal codewords unrolls into a codegen expression — the
    corpus never shuffles and ships only ``m`` small ints per row
    downstream); ADC scoring broadcasts the queries' (m × ks) int tables
    and ranks with one per-query window; the rerank touches only
    queries × shortlist rows. At 100 TB the encoded table is the
    persisted artifact (80 bits/vector) and ADC scans IT, never the raw
    embeddings — exactly the memory-bound layout PQ exists for.

    Output: query_id, vec_id, score (cosine, rounded 6) + rk with
    rerank; query_id, vec_id, adc_d2, rk without.
    """
    books = pq_train_books(corpus, m=m, ks=ks, iters=iters,
                           train_max=train_max, vec_col=vec_col,
                           id_col=id_col)
    codes = pq_encode(corpus, books, vec_col=vec_col, id_col=id_col)
    return pq_adc_topk(codes, books, queries, corpus=corpus, k=k,
                       shortlist=shortlist, exclude_self=exclude_self,
                       vec_col=vec_col, id_col=id_col, query_id=query_id)


def ivfpq_train(corpus: DataFrame, n_lists: int = 8, coarse_iters: int = 3,
                m: int = 16, ks: int = 32, pq_iters: int = 2,
                train_max: int = 512, vec_col: str = "embedding",
                id_col: str = "vec_id") -> tuple:
    """Train the IVFADC index's two codebooks on ONE bounded md5-smallest
    sample: the coarse ``n_lists x dim`` centroid table (integer Lloyd on
    vectors) and the ``m`` per-subspace residual codebooks (Lloyd on the
    sample's residuals after coarse assignment — argmin ties to the
    lowest cell, numpy argmin's first-minimum, same as the SQL replay).
    Returns ``(coarse, books)`` as plain nested int lists — bounded
    trained artifacts (corpus-size-independent) that round-trip through a
    1-row parquet and replay bit-for-bit in SQL (factored out of
    :func:`ivfpq_topk_exact` so a persisted index trains ONCE)."""
    import numpy as np
    qv = corpus.select(F.col(id_col), quantize_e6(vec_col).alias("q6"))
    sample_rows = (qv.select(
                       "q6", F.md5(F.col(id_col).cast("string")).alias("h"),
                       F.col(id_col))
                     .orderBy("h", id_col).limit(train_max).collect())
    sample = np.asarray([list(r["q6"]) for r in sample_rows], dtype=np.int64)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    coarse = _lloyd_local([list(v) for v in sample], n_lists, coarse_iters)
    cents = np.asarray([c[1] for c in coarse], dtype=np.int64)
    d2s = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    res = sample - cents[d2s.argmin(axis=1)]
    books = [_lloyd_local([list(v[s * d:(s + 1) * d]) for v in res],
                          ks, pq_iters) for s in range(m)]
    return ([list(cvec) for _, cvec in coarse],
            [[list(cvec) for _, cvec in books[s]] for s in range(m)])


def _ivfpq_books_df(spark: SparkSession, coarse: list,
                    books: list) -> DataFrame:
    """Both codebooks travel as ONE broadcast DATA row (see pq_topk_exact:
    literal codebooks cost seconds of Catalyst analysis per build)."""
    return spark.createDataFrame(
        [(coarse, books)],
        "C array<array<bigint>>, B array<array<array<bigint>>>")


def ivfpq_encode(corpus: DataFrame, coarse: list, books: list,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """One map-side encode pass: ``id_col, cell, codes`` — the coarse
    cell (argmin over broadcast centroids) plus the ``m`` residual codes.
    This is the persisted IVFADC artifact: n_lists posting lists of
    80-bit codes; the corpus never shuffles during encoding."""
    d = len(books[0][0])
    bdf = _ivfpq_books_df(corpus.sparkSession, coarse, books)
    qv = corpus.select(F.col(id_col), quantize_e6(vec_col).alias("q6"))
    cell_col = F.array_min(
        F.transform(F.col("C"), lambda cv, i: F.struct(
            _pq_d2(F.col("q6"), cv).alias("d2"),
            i.cast("int").alias("cell"))))["cell"]
    enc = (qv.crossJoin(F.broadcast(bdf))
             .withColumn("cell", cell_col)
             .withColumn("r6", F.zip_with(
                 "q6", F.element_at(F.col("C"), F.col("cell") + 1),
                 lambda a, b: a - b)))
    codes_col = F.transform(
        F.col("B"), lambda book, s: F.array_min(
            F.transform(book, lambda cv, i: F.struct(
                _pq_d2(F.slice(F.col("r6"), s * d + 1, F.lit(d)),
                       cv).alias("d2"),
                i.cast("int").alias("code"))))["code"])
    return enc.select(id_col, "cell", codes_col.alias("codes"))


def ivfpq_adc_topk(codes: DataFrame, coarse: list, books: list,
                   queries: DataFrame, corpus: DataFrame, k: int = 5,
                   n_probe: int = 2, shortlist: int = 50,
                   exclude_self: bool = True,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   query_id: str = "query_id") -> DataFrame:
    """Probe + residual-ADC + exact rerank over an ALREADY-ENCODED
    ``(id, cell, codes)`` table — the scan a persisted IVFADC index
    serves at 100 TB: queries explode to their ``n_probe`` nearest
    cells, the probe join is an equi-join on ``cell`` touching
    n_probe/n_lists of the code table, and raw embeddings are read only
    for the queries x shortlist rerank rows. Same semantics and output
    schema as :func:`ivfpq_topk_exact`'s scoring stage."""
    spark = codes.sparkSession
    d = len(books[0][0])
    bdf = _ivfpq_books_df(spark, coarse, books)
    # --- queries: n_probe nearest cells, one row per (query, cell) with
    # that cell's residual ADC table.
    q = (queries.select(F.col(query_id), quantize_e6(vec_col).alias("qq6"))
                .crossJoin(F.broadcast(bdf)))
    probe_structs = F.array_sort(
        F.transform(F.col("C"), lambda cv, i: F.struct(
            _pq_d2(F.col("qq6"), cv).alias("d2"),
            i.cast("int").alias("cell"))))
    probes = (q.withColumn("pc", F.slice(probe_structs, 1, n_probe))
               .select(query_id, "qq6", "C", "B",
                       F.explode(F.col("pc.cell")).alias("cell")))
    qres = probes.withColumn(
        "qr6", F.zip_with("qq6",
                          F.element_at(F.col("C"), F.col("cell") + 1),
                          lambda a, b: a - b))
    dt = F.transform(
        F.col("B"), lambda book, s: F.transform(
            book, lambda cv: _pq_d2(
                F.slice(F.col("qr6"), s * d + 1, F.lit(d)), cv)))
    qt = qres.select(query_id, "cell", dt.alias("dt"))

    # --- ADC over the probed cells only: equi-join on cell.
    scored = codes.join(F.broadcast(qt), "cell")
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col(id_col))
    adc = F.aggregate(
        F.zip_with("dt", "codes", lambda row, c: F.element_at(row, c + 1)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    w = W.partitionBy(query_id).orderBy("adc_d2", id_col)
    cand = (scored.withColumn("adc_d2", adc)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= shortlist)
            .select(query_id, id_col))
    qv_full = queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"))
    rer = (cand.join(corpus.select(id_col, vec_col), id_col)
           .join(F.broadcast(qv_full), query_id)
           .select(query_id, id_col,
                   F.round(cosine("q_vec", vec_col), 6).alias("score")))
    w2 = W.partitionBy(query_id).orderBy(F.col("score").desc(), id_col)
    return (rer.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select(query_id, id_col, "score", "rk"))


def ivfpq_topk_exact(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     n_lists: int = 8, n_probe: int = 2,
                     coarse_iters: int = 3, m: int = 16, ks: int = 32,
                     pq_iters: int = 2, train_max: int = 512,
                     shortlist: int = 50, exclude_self: bool = True,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id: str = "query_id") -> DataFrame:
    """The composed FAISS-standard IVFADC index (Jégou et al. TPAMI 2011
    §IV): coarse IVF cells route the search, product quantization encodes
    the RESIDUAL ``vector - cell centroid``, queries scan only the probed
    cells' code lists with per-cell ADC tables, and the shortlist reranks
    by exact cosine. Composes :func:`ivf_topk_exact`'s trainer with
    :func:`pq_topk_exact`'s codebooks — everything int64 end-to-end, so
    the full index (coarse centroids, residual codebooks, codes, probes,
    both rankings) replays bit-for-bit in DuckDB.

    Residual encoding is what makes IVF+PQ beat flat PQ: within a cell
    the residual norm is a fraction of the vector norm, so the same ks
    codewords quantize far finer. Training: ONE bounded md5-smallest
    sample feeds both trainers (coarse Lloyd on vectors, then per-
    subspace Lloyd on the sample's residuals), all driver-local.

    Scale shape: one TakeOrdered + one bounded collect for training; one
    map-side corpus pass computes cell + residual codes (literal-array
    codebooks, transform lambdas — never unrolled per codeword); the
    probe join is an equi-join on ``cell`` touching n_probe/n_lists of
    the code table (the 80-bit-per-vector artifact — the raw embeddings
    are only read back for the queries × shortlist rerank rows).

    Output: query_id, vec_id, score (cosine, rounded 6), rk.
    """
    coarse, books = ivfpq_train(corpus, n_lists=n_lists,
                                coarse_iters=coarse_iters, m=m, ks=ks,
                                pq_iters=pq_iters, train_max=train_max,
                                vec_col=vec_col, id_col=id_col)
    codes = ivfpq_encode(corpus, coarse, books, vec_col=vec_col,
                         id_col=id_col)
    return ivfpq_adc_topk(codes, coarse, books, queries, corpus, k=k,
                          n_probe=n_probe, shortlist=shortlist,
                          exclude_self=exclude_self, vec_col=vec_col,
                          id_col=id_col, query_id=query_id)


def mmr_diversify(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  m: int = 20, exclude_self: bool = True,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  query_id: str = "query_id") -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR'98)
    with lambda = 0.5: retrieve the top-``m`` candidates per query by
    relevance, then greedily pick ``k`` where each pick maximizes
    ``rel(i) - max_{j in picked} sim(i, j)`` (the lambda-0.5 argmax,
    doubled) — relevance first, then penalized for redundancy with what's
    already selected. The standard diversification pass between RAG
    retrieval and the context window.

    Determinism: relevance and pairwise similarities quantize to e6
    BIGINT (rounded 6-dp cosines), the greedy runs in pure integer
    arithmetic, and ties break on the smaller candidate id — so a DuckDB
    oracle replays every pick exactly.

    Scale shape: stage 1 is the retrieval (swap in the LSH/IVF path at
    scale — same contract); everything after is pair-scale —
    (queries × m) candidate rows, (queries × m × (m-1)) pairwise rows —
    independent of corpus size. The greedy is applyInPandas per query
    over those bounded groups: one shuffle of pair-scale data, k·m
    integer comparisons per query.

    Output: query_id, vec_id, rk (1..k in pick order), rel_e6.
    """
    import pandas as pd

    cand = brute_force_topk(corpus, queries, k=m, vec_col=vec_col,
                            id_col=id_col, query_id=query_id,
                            exclude_self=exclude_self)
    cand = cand.select(query_id, id_col,
                       F.round(F.col("score") * 1_000_000)
                        .cast("bigint").alias("rel_e6"))
    cv = cand.join(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
    # Bounded (queries × m) frame feeding BOTH sides of the pair self-join:
    # materialize once so the retrieval isn't replayed per side (and AQE
    # sees the true tiny size).
    cv = cv.localCheckpoint(eager=True)
    a = cv.select(query_id, F.col(id_col).alias("id_a"),
                  F.col("rel_e6").alias("rel_a"), F.col(vec_col).alias("va"))
    b = cv.select(F.col(query_id).alias("qb"), F.col(id_col).alias("id_b"),
                  F.col(vec_col).alias("vb"))
    pairs = (a.join(b, (F.col(query_id) == F.col("qb"))
                    & (F.col("id_a") != F.col("id_b")))
             .select(query_id, "id_a", "rel_a", "id_b",
                     F.round(_dot("va", "vb")
                             / (_norm("va") * _norm("vb")) * 1_000_000)
                      .cast("bigint").alias("sim_e6")))

    out_schema = (f"{query_id} bigint, {id_col} bigint, rk int, "
                  "rel_e6 bigint")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf[query_id].iloc[0])
        rel = {int(r.id_a): int(r.rel_a)
               for r in pdf[["id_a", "rel_a"]].drop_duplicates()
                  .itertuples(index=False)}
        sim = {(int(r.id_a), int(r.id_b)): int(r.sim_e6)
               for r in pdf[["id_a", "id_b", "sim_e6"]]
                  .itertuples(index=False)}
        remaining = sorted(rel)
        picked: list[int] = []
        while remaining and len(picked) < k:
            if not picked:
                best = max(remaining, key=lambda i: (rel[i], -i))
            else:
                best = max(remaining,
                           key=lambda i: (rel[i] - max(sim[(i, j)]
                                                       for j in picked), -i))
            picked.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            [(qid, v, r + 1, rel[v]) for r, v in enumerate(picked)],
            columns=[query_id, id_col, "rk", "rel_e6"])

    return (pairs.groupBy(query_id)
            .applyInPandas(greedy, out_schema)
            .orderBy(query_id, "rk"))


def ranking_metrics(system: DataFrame, ideal: DataFrame, k: int = 10,
                    query_id: str = "query_id",
                    id_col: str = "vec_id") -> DataFrame:
    """Retrieval-quality metrics per query — the numbers that gate an ANN
    index rollout: hits@k, MRR and nDCG@k of a SYSTEM ranking against the
    exact-ranking IDEAL (both as (query_id, id, rk) frames, e.g.
    :func:`lsh_bucketed_topk` judged by :func:`brute_force_topk`).

    Relevance is graded by the ideal's own rank (rel = k+1-rk: the exact
    #1 neighbor is worth k, the #k-th worth 1), so nDCG rewards the
    system for surfacing the BEST neighbors early, not merely any
    overlap. Determinism contract: each DCG term is rounded to an e9
    integer BEFORE the per-query sum (float addition is order-sensitive;
    both engines round the identical IEEE double ``rel·1e9/log2(p+1)``),
    the sums are exact BIGINTs, and the final ndcg6 divides identical
    integers. IDCG is the ideal frame's own DCG — a system that returns
    the ideal list scores exactly 1.

    Scale shape: one equi-join of two k-bounded-per-query frames + one
    keyed aggregate; nothing is corpus-scale.

    Output: (query_id, n_ideal, n_hits, mrr6, ndcg6) — mrr6/ndcg6 = 0.0
    for queries the system missed entirely; n_ideal = |ideal list|.
    """
    rel = ideal.select(
        F.col(query_id), F.col(id_col),
        (F.lit(k + 1) - F.col("rk")).cast("bigint").alias("rel"))
    dcg_term = F.round(F.col("rel") * 1e9
                       / F.log2(F.col("rk") + 1)).cast("bigint")
    sys_k = (system.filter(F.col("rk") <= k)
             .join(rel, [query_id, id_col], "left")
             .withColumn("rel", F.coalesce("rel", F.lit(0))))
    per_sys = (sys_k.groupBy(query_id)
               .agg(F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
                     .cast("bigint").alias("n_hits"),
                    F.min(F.when(F.col("rel") > 0, F.col("rk")))
                     .alias("first_hit"),
                    F.sum(F.when(F.col("rel") > 0, dcg_term)
                           .otherwise(F.lit(0))).alias("dcg_e9")))
    per_ideal = (ideal.filter(F.col("rk") <= k)
                 .withColumn("rel", (F.lit(k + 1) - F.col("rk"))
                             .cast("bigint"))
                 .groupBy(query_id)
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_ideal"),
                      F.sum(dcg_term).alias("idcg_e9")))
    mrr = F.coalesce(F.round(1.0 / F.col("first_hit"), 6), F.lit(0.0))
    ndcg = (F.when(F.col("idcg_e9") > 0,
                   F.round(F.coalesce(F.col("dcg_e9"), F.lit(0))
                           / F.col("idcg_e9").cast("double"), 6))
             .otherwise(F.lit(0.0)))
    return (per_ideal.join(per_sys, query_id, "left")
            .select(query_id, "n_ideal",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                     .alias("n_hits"),
                    mrr.alias("mrr6"), ndcg.alias("ndcg6"))
            .orderBy(query_id))
