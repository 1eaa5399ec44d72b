"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design
------------
- Exact dedup hashes the normalized text (one md5 per row) and keeps the
  min doc_id per fingerprint — a single hash-aggregate; at 100 TB this is the
  cheapest possible dedup (map-side partial agg on the 128-bit key).
- Pairwise n-gram Jaccard is the *verification* primitive: it self-joins on
  shingles, so it is only run on LSH candidate buckets (or small corpora).
- MinHash+LSH is the scale path: per-doc k-way min-hash signature (one
  explode + min-aggregate — linear), band the signature, join docs sharing a
  band bucket. The band join is an equi-join on a high-cardinality key →
  well-distributed shuffle; candidates then verified with exact Jaccard.
- SimHash: 32-bit signature via 32 conditional aggregates over token hashes
  (no row blowup); near-dups = signatures within small Hamming distance.

All hash functions are md5-derived (``conv(substr(md5(x),1,8),16,10)``) so the
DuckDB oracle can reproduce them bit-for-bit — deliberately NOT Spark's
``hash()``/``xxhash64`` which have no DuckDB equivalent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .graph import counted_checkpoint

# Shingle rows up to which prefix_filter_pairs runs in one task. On 4 cores
# the one task beat the distributed PPJoin at every size measured (2.1-2.6x
# up to 2.08M rows; SCALE.md, x_prefix_filter_join); 2M is that measured
# range, and the graph fixpoints' one-task size.
_PREFIX_ONE_TASK_ROWS = 2_000_000
# Pair rows one kernel step holds at a time (~100 MB of int64 columns).
_PAIR_CHUNK = 4_000_000


def _norm(text_col: str) -> Column:
    n = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(n, " +", " "))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical (normalized) text. Output:
    keep_id, n_copies — one row per distinct content."""
    return (df.select(F.col(id_col), F.md5(_norm(text_col)).alias("fp"))
              .groupBy("fp")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def exact_dedup_stream(df: DataFrame, ts_col: str, watermark: str = "10 seconds",
                       text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of identical (normalized)
    content within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps fingerprint state only until the
    watermark passes — bounded state at any scale, versus an ever-growing
    seen-set. A duplicate arriving later than the horizon is NOT caught
    (document the horizon to match the pipeline's dedup SLA).
    """
    return (df.withColumn("fp", F.md5(_norm(text_col)))
              .withWatermark(ts_col, watermark)
              .dropDuplicatesWithinWatermark(["fp"]))


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). Pure JVM —
    split + sequence/transform/slice higher-order expressions.

    Dedup happens with ``array_distinct`` BEFORE the explode: an
    (id, shingle) duplicate can only arise WITHIN one document (ids are
    unique), so per-row array dedup is exactly equivalent to a global
    ``.distinct()`` — minus the corpus-scale shuffle the global form
    drags into every MinHash/Jaccard consumer. The whole operator stays
    map-side.
    """
    d = df.select(F.col(id_col), F.split(_norm(text_col), " ").alias("w"))
    grams = F.when(
        F.size("w") >= n,
        F.expr(f"transform(sequence(0, size(w) - {n}),"
               f" i -> concat_ws(' ', slice(w, i + 1, {n})))"),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(F.col(id_col),
                    F.explode(F.array_distinct(grams)).alias("shingle"))


def _overlap_pairs(df: DataFrame, n: int, text_col: str, id_col: str,
                   candidates: DataFrame | None,
                   shingles_df: DataFrame | None = None) -> DataFrame:
    """Shared overlap core for set-similarity measures: doc pairs with
    their shingle overlap counts ``(id_a, id_b, n_common, n_a, n_b)``.

    Without ``candidates``: the full shingle self-join (key = shingle
    string, high cardinality, well-distributed) — the verification
    primitive, quadratic per shared shingle, so at 100 TB pass
    ``candidates`` (an (id_a, id_b) frame, e.g. from
    :func:`minhash_lsh_candidates`): the shingle table is left-semi pruned
    to candidate docs before the self-join and the result is left-semi
    restricted to candidate pairs, so all-pairs work never materializes.
    """
    # A caller that already materialized the shingle table (e.g.
    # prefix_filter_pairs) passes it in so the corpus isn't re-tokenized.
    sh = shingles(df, n, text_col, id_col) if shingles_df is None \
        else shingles_df
    cand = None
    if candidates is not None:
        cand = candidates.select("id_a", "id_b")
        cand_ids = (cand.select(F.col("id_a").alias(id_col))
                    .union(cand.select(F.col("id_b").alias(id_col))).distinct())
        sh = sh.join(cand_ids, id_col, "left_semi")
    # Materialize ONCE (post-prune in candidate mode): sizes and both
    # self-join sides consume the shingle table — otherwise the corpus
    # tokenizes and explodes three times.
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (a.join(b, "shingle")
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("n_common")))
    if cand is not None:
        common = common.join(cand, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.8,
                  text_col: str = "text", id_col: str = "doc_id",
                  candidates: DataFrame | None = None,
                  shingles_df: DataFrame | None = None) -> DataFrame:
    """Doc pairs with shingle-set Jaccard >= threshold (scale notes on
    :func:`_overlap_pairs`). Output: id_a, id_b, jaccard (rounded to 6 dp
    — the oracle contract)."""
    return _jaccard_at_least(
        _overlap_pairs(df, n, text_col, id_col, candidates, shingles_df),
        threshold)


def _jaccard_at_least(ov: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` from overlap counts ``(id_a, id_b,
    n_common, n_a, n_b)``: Jaccard rounded to 6 dp (the oracle contract),
    kept when the ROUNDED value clears ``threshold``."""
    return (ov.withColumn(
                "jaccard",
                F.round(F.col("n_common").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def containment_pairs(df: DataFrame, n: int = 3, threshold: float = 0.8,
                      text_col: str = "text", id_col: str = "doc_id",
                      candidates: DataFrame | None = None) -> DataFrame:
    """Subset-duplicate detection: containment = |A∩B| / min(|A|, |B|).

    Jaccard misses clone-plus-appended-content duplicates (a doc pasted
    inside a much longer one scores low on union-normalized overlap but
    ~1.0 on containment — the measure web-corpus dedup uses alongside
    Jaccard). Same shingle overlap core, same candidate gating for scale;
    output adds the pair's sizes so consumers can tell which side is the
    contained one. Rounded to 6 dp — the oracle contract."""
    ov = _overlap_pairs(df, n, text_col, id_col, candidates)
    return (ov.withColumn(
                "containment",
                F.round(F.col("n_common").cast("double")
                        / F.least("n_a", "n_b"), 6))
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "n_a", "n_b", "containment"))


def neardup_pipeline(df: DataFrame, num_hashes: int = 16, bands: int = 4,
                     n: int = 3, threshold: float = 0.8,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The composed 100 TB near-dup flow: MinHash-LSH candidate generation
    followed by exact Jaccard verification OF THE CANDIDATES ONLY (the
    candidate-gated mode of :func:`jaccard_pairs` — one implementation of
    the formula, two entry points)."""
    cand = (minhash_lsh_candidates(df, num_hashes, bands, n, text_col, id_col)
            .select("id_a", "id_b")
            # Materialize ONCE: the verify stage references the candidate
            # frame three times (id-prune, pair-restrict ×2 sides), and its
            # lineage embeds the whole 16-hash LSH computation — without
            # this the signature pipeline re-runs per reference. The pair
            # list is near-dup-sized (tiny next to the corpus).
            .localCheckpoint(eager=True))
    return jaccard_pairs(df, n, threshold, text_col, id_col, candidates=cand)


def _md5_hash32(prefix: Column | str, value: Column) -> Column:
    """Deterministic 32-bit hash reproducible in DuckDB:
    int(first 8 hex chars of md5(prefix || ':' || value))."""
    p = F.lit(prefix) if isinstance(prefix, str) else prefix
    return F.conv(F.substring(F.md5(F.concat(p.cast("string"), F.lit(":"), value)),
                              1, 8), 16, 10).cast("bigint")


def _md5_hash60(prefix: Column | str, value: Column) -> Column:
    """60-bit sibling of :func:`_md5_hash32` (first 15 hex chars): the
    signature space for hash-bucketed pairing must outgrow the corpus —
    32 bits full-collides ~N²/2³² pairs (23k false-identicals at 10⁷
    docs). 60 bits stays inside signed BIGINT on both engines."""
    p = F.lit(prefix) if isinstance(prefix, str) else prefix
    return F.conv(F.substring(F.md5(F.concat(p.cast("string"), F.lit(":"), value)),
                              1, 15), 16, 10).cast("bigint")


def affine_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Per-seed (a, b) for the derived MinHash family
    ``h_s = (a_s·h + b_s) mod 2³²`` over one 32-bit base hash.

    md5-derived, deterministic, engine-independent (the SQL oracle embeds
    the same constants as literals). ``a`` is forced odd (a bijection mod
    2³²) and below 2³¹ so ``a·h + b < 2⁶³`` — Spark's wrapping BIGINT and
    DuckDB's overflow-checked BIGINT then agree exactly.
    """
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [((h32(f"mh-a:{s}") & 0x7FFFFFFF) | 1, h32(f"mh-b:{s}"))
            for s in range(num_hashes)]


def minhash_signatures(df: DataFrame, num_hashes: int = 16, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, seed, minhash): k-way MinHash over word n-gram shingles.

    Linear plan with NO k-fold row blowup: each (doc, shingle) row computes
    all k hashes map-side, then ONE groupBy(doc) runs k min-aggregates —
    map-side partial aggregation collapses each scan partition to one row
    per doc before the shuffle, so shuffle volume is docs × k longs
    regardless of shingle count. (The earlier shape exploded k× rows
    through a (doc, seed) shuffle — 16× the bytes for the same result.)
    posexplode restores the (id, seed, minhash) row contract.

    Hash family: ONE md5 per shingle (the expensive part), then k cheap
    affine transforms ``(a_s·h + b_s) mod 2³²`` (:func:`affine_consts`) —
    k independent-enough permutations for Jaccard estimation at 1/k of the
    md5 cost. The two-step select keeps the md5 in its own projection;
    CollapseProject declines to inline a non-cheap expression k times.
    """
    sh = shingles(df, n, text_col, id_col)
    based = sh.select(F.col(id_col),
                      _md5_hash32("mh", F.col("shingle")).alias("hb"))
    consts = affine_consts(num_hashes)
    hashed = based.select(
        F.col(id_col),
        *[((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(1 << 32))
          .cast("bigint").alias(f"h{s}")
          for s, (a, b) in enumerate(consts)])
    mins = hashed.groupBy(id_col).agg(
        *[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)])
    return (mins.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"m{s}") for s in range(num_hashes)]))
         .alias("seed", "minhash")))


def minhash_lsh_candidates(df: DataFrame, num_hashes: int = 16, bands: int = 4,
                           n: int = 3, text_col: str = "text",
                           id_col: str = "doc_id",
                           signatures_df: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    band bucket = md5 of the band's concatenated minhash values; docs in the
    same bucket for any band become a candidate pair. Output: id_a, id_b,
    n_shared_bands. Verify candidates with :func:`jaccard_pairs` semantics.
    ``signatures_df`` lets a caller that already materialized the
    signature table (minhash_jaccard_estimate) reuse it instead of paying
    the corpus shingle-explode + min-fold a second time (r11 profile:
    the duplicated signature pass was ~40% of the estimator's wall).
    """
    rows_per_band = num_hashes // bands
    sig = (signatures_df if signatures_df is not None
           else minhash_signatures(df, num_hashes, n, text_col, id_col))
    # Band bucket = md5 of the '|'-joined minhash values in seed order — a
    # plain string contract the SQL oracle reproduces with string_agg(...
    # ORDER BY seed), with no JSON-formatting ambiguity.
    banded = (sig.withColumn("band", F.expr(f"seed div {rows_per_band}"))
                 .groupBy(id_col, "band")
                 .agg(F.md5(F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(F.struct("seed", "minhash"))),
                         lambda s: s.getField("minhash").cast("string")),
                     "|")).alias("bucket"))
                 # Materialize ONCE: both self-join sides consume the banded
                 # table — otherwise the whole signature pipeline (shingle
                 # explode + num_hashes aggregates) runs twice. The banded
                 # table is docs×bands rows, tiny next to the corpus.
                 .localCheckpoint(eager=True))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (a.join(b, ["band", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared_bands")))


def incremental_lsh_candidates(new_df: DataFrame, old_df: DataFrame,
                               num_hashes: int = 16, bands: int = 4,
                               n: int = 3, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """Ingestion-time near-dup candidates: pairs touching at least one NEW
    doc — new↔old (is the arrival a dup of history?) and new↔new — while
    old↔old pairs are excluded (history is already deduped; re-checking it
    every ingest would re-pay the whole corpus each day).

    Plan shape: band buckets for BOTH sides, then the bucket equi-join runs
    (new side) ⋈ (old+new side) — the left side is ingest-sized, so the
    join cost scales with the DAILY batch, not the historical corpus. In
    production the old side's banded signatures are precomputed and stored
    (signature table maintained per ingest); here they derive inline from
    the fixture, which changes cost, not semantics.

    Output: id_a, id_b (id_a < id_b), n_shared_bands, is_cross (true when
    exactly one side is new).
    """
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(df, num_hashes, n, text_col, id_col)
        return (sig.withColumn("band", F.expr(f"seed div {rows_per_band}"))
                   .groupBy(id_col, "band")
                   .agg(F.md5(F.array_join(
                       F.transform(
                           F.sort_array(F.collect_list(
                               F.struct("seed", "minhash"))),
                           lambda s: s.getField("minhash").cast("string")),
                       "|")).alias("bucket")))

    new_b = banded(new_df).localCheckpoint(eager=True)
    all_b = (banded(old_df).withColumn("is_new", F.lit(False))
             .unionByName(new_b.withColumn("is_new", F.lit(True)))
             .localCheckpoint(eager=True))
    a = new_b.select(F.col(id_col).alias("id_x"), "band", "bucket")
    b = all_b.select(F.col(id_col).alias("id_y"), "band", "bucket", "is_new")
    # new-new pairs appear in BOTH orientations of the join (each side is
    # in `a` and in `b`): keep one (id_x < id_y) or bands double-count.
    # new-old pairs only ever orient as (new, old) — keep them all.
    pairs = (a.join(b, ["band", "bucket"])
              .filter((~F.col("is_new")) | (F.col("id_x") < F.col("id_y")))
              .select(F.least("id_x", "id_y").alias("id_a"),
                      F.greatest("id_x", "id_y").alias("id_b"),
                      "band", (~F.col("is_new")).alias("cross_side")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"),
                 F.max("cross_side").alias("is_cross")))


def minhash_jaccard_estimate(df: DataFrame, num_hashes: int = 16,
                             bands: int = 4, n: int = 3,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Jaccard ESTIMATED from MinHash signatures for LSH candidate pairs:
    est = (matching seeds) / k — the estimator the whole MinHash family
    rests on (P[min-hash match] = J). At 100 TB this is the cheap
    re-rank between candidate generation and exact verification: it costs
    one signature equi-join on the candidate ids instead of re-exploding
    shingles.

    Output: id_a, id_b, n_match, est_jaccard (exact rational k-ths,
    rounded 6 dp). The pytest bounds |est - exact| by the Binomial
    concentration you'd expect at k=16.
    """
    sig = minhash_signatures(df, num_hashes, n, text_col, id_col) \
        .localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(df, num_hashes, bands, n, text_col, id_col,
                                  signatures_df=sig) \
        .select("id_a", "id_b")
    a = sig.select(F.col(id_col).alias("id_a"), "seed",
                   F.col("minhash").alias("mh_a"))
    b = sig.select(F.col(id_col).alias("id_b"), "seed",
                   F.col("minhash").alias("mh_b"))
    joined = (cand.join(a, "id_a").join(b, ["id_b", "seed"]))
    return (joined.groupBy("id_a", "id_b")
            .agg(F.sum((F.col("mh_a") == F.col("mh_b")).cast("bigint"))
                  .alias("n_match"))
            .select("id_a", "id_b", "n_match",
                    F.round(F.col("n_match") / F.lit(float(num_hashes)), 6)
                     .alias("est_jaccard")))


def simhash(df: DataFrame, bits: int = 32, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash signature over tokens.

    Plan: explode tokens once with their hash, then ONE aggregate with
    ``bits`` conditional sums (no bits× row blowup); signature bit j is set
    when the signed sum of bit j over all token hashes is positive.
    ``bits <= 32`` draws from the 32-bit md5 hash (unchanged legacy form);
    33..60 from the 60-bit one (the at-scale signature — see _md5_hash60).
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60] (md5-derived hash caps at"
                         f" 60 signed bits), got {bits}")
    tok_hash = _md5_hash32 if bits <= 32 else _md5_hash60
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(_norm(text_col), " ")).alias("tok"))
              .filter(F.col("tok") != "")
              .select(F.col(id_col), tok_hash("sim", F.col("tok")).alias("h")))
    sums = toks.groupBy(id_col).agg(*[
        F.sum(F.when(F.expr(f"(h div {1 << j}) % 2") == 1, 1).otherwise(-1))
         .alias(f"b{j}")
        for j in range(bits)
    ])
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else (sig + term)
    return sums.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def neardup_clusters(df: DataFrame, num_hashes: int = 16, bands: int = 4,
                     n: int = 3, threshold: float = 0.8,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Near-dup DEDUP, end to end: LSH candidates → exact-Jaccard verify →
    connected components of the surviving pair graph. Returns
    ``(doc_id, cluster_id)`` for every doc that has at least one near-dup;
    ``cluster_id`` is the smallest doc_id in the component (keep it, drop
    the rest — the standard keep-one policy)."""
    from .graph import connected_components
    pairs = neardup_pipeline(df, num_hashes, bands, n, threshold,
                             text_col, id_col)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(F.col("node").alias(id_col),
                     F.col("label").alias("cluster_id"))


def neardup_keep(df: DataFrame, num_hashes: int = 16, bands: int = 4,
                 n: int = 3, threshold: float = 0.8,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduped corpus view — the actual END PRODUCT of near-dup
    removal: every doc survives except non-canonical cluster members
    (canonical = smallest id per component, the keep-one policy of
    :func:`neardup_clusters`).

    Plan shape: the drop-list is ids-only and duplicate-scale; its join
    strategy is left to AQE — broadcast (map-side anti-join, corpus never
    shuffles) while it fits, and an ids-only shuffle on the pathological
    high-dup corpus where the drop list itself is corpus-scale. A forced
    broadcast here would be the q5-class scale bug.

    Output: (doc_id, is_canonical) — kept docs only; ``is_canonical`` is
    true when the doc anchors a cluster (near-dups were dropped for it),
    false when it simply had no near-dup. Both are kept; the flag records
    dedup lineage.
    """
    clusters = neardup_clusters(df, num_hashes, bands, n, threshold,
                                text_col, id_col)
    drop = (clusters.filter(F.col(id_col) != F.col("cluster_id"))
            .select(id_col))
    anchors = (clusters.filter(F.col(id_col) == F.col("cluster_id"))
               .select(id_col))
    return (df.select(id_col)
            .join(drop, id_col, "left_anti")
            .join(anchors.withColumn("is_canonical", F.lit(True)),
                  id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("is_canonical"), F.lit(False))
                     .alias("is_canonical")))


def repeated_spans(df: DataFrame, n: int = 8, min_docs: int = 2,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Boilerplate / span-level duplication report: the ``n``-token spans
    that appear in at least ``min_docs`` distinct documents (headers,
    footers, license blocks — the spans span-dedup pipelines cut).

    Spans are the word n-grams from :func:`shingles` (already distinct per
    doc), fingerprinted map-side so the single aggregate shuffle moves only
    (32-char fp, id) pairs — never span text. COUNT(DISTINCT id) is exact;
    the HAVING prunes the long unique tail at the reducer, so output is
    proportional to actual boilerplate, not corpus size.

    Output: span_fp, n_docs.
    """
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    return (sh.groupBy(F.md5(F.col("shingle")).alias("span_fp"))
              .agg(F.countDistinct(id_col).alias("n_docs"))
              .filter(F.col("n_docs") >= min_docs))


def simhash_neardup_pairs(df: DataFrame, bands: int = 4,
                          max_hamming: int = 3, bits: int = 32,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the
    constant-size-signature counterpart to MinHash LSH (one signature word
    per doc instead of ``num_hashes`` values).

    Pigeonhole candidate generation, Manku et al. WWW 2007 form: the
    signature splits into ``bands`` contiguous bit-slices; ≤ ``max_hamming``
    differing bits touch ≤ ``max_hamming`` slices, so every qualifying pair
    agrees EXACTLY on some (bands − max_hamming)-subset of slices.
    Candidates come from C(bands, bands − max_hamming) equi-joins, each
    keyed on a CONCATENATION of that subset's slices — never an all-pairs
    product. Exact Hamming (bit_count of xor) then verifies each candidate
    once (pairs deduped across combinations first).

    The join-key width is what decides the 100 TB shape: keys carry
    (bands − max_hamming)·(bits/bands) bits, so expected bucket occupancy
    is N / 2^that — a SINGLE-slice key (the bands = max_hamming + 1
    minimum) is quadratic once N outgrows 2^(bits/bands) (the r9 sf10
    dry-run class). Size bands and bits so the key width clears
    log2(N): bits=60, bands=6, max_hamming=3 gives 30-bit keys and 20
    combinations — linear to ~10¹⁰ docs at ~1 expected collision per key.

    Output: id_a < id_b, hamming.
    """
    from itertools import combinations

    if not 1 <= bands <= bits:
        raise ValueError(f"need 1 <= bands <= bits, got {bands}/{bits}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < bands, got "
            f"{max_hamming}/{bands} — raise bands or lower max_hamming")
    # Materialize ONCE: both sides of the candidate self-join consume the
    # signature table, and one side is broadcast-built — no exchange reuse
    # is possible across that asymmetry, so without this the whole corpus
    # tokenize + ``bits`` conditional-sum pipeline runs TWICE (verified in
    # the executed plan: two full FileScan→explode→HashAggregate branches).
    # The table is one 16-byte signature per doc — corpus-linear, tiny
    # next to the token explode it truncates.
    sig = simhash(df, bits=bits, text_col=text_col, id_col=id_col) \
        .localCheckpoint(eager=True)
    # Slices need not be equal width — the pigeonhole argument only needs a
    # partition of the signature into ``bands`` contiguous slices. When
    # bands does not divide bits, the first (bits % bands) slices take one
    # extra bit (ragged split); for dividing band counts this reduces to
    # the uniform bits/bands layout bit-for-bit.
    base, rem = divmod(bits, bands)
    widths = [base + 1 if i < rem else base for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    keep = bands - max_hamming
    keys = []
    for kept in combinations(range(bands), keep):
        shift, terms = 0, []
        for blk in kept:
            terms.append(
                f"((simhash div {1 << offsets[blk]}) % {1 << widths[blk]})"
                f" * cast({1 << shift} as bigint)")
            shift += widths[blk]
        keys.append(F.expr(f"({' + '.join(terms)})").cast("bigint"))
    slices = sig.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*keys)).alias("combo", "kv"))
    a = slices.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("sig_a"), "combo", "kv")
    b = slices.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("sig_b"), "combo", "kv")
    cand = (a.join(b, ["combo", "kv"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sig_a", "sig_b")
             .distinct())
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.select("id_a", "id_b",
                        hamming.cast("bigint").alias("hamming"))
                .filter(F.col("hamming") <= max_hamming))


def paragraph_dedup(df: DataFrame, chunk_tokens: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Paragraph-level exact dedup with document reconstruction: split each
    document into paragraphs, keep only the globally FIRST occurrence of
    each distinct paragraph (ordered by doc id, then position), and stitch
    the survivors back into per-document text — the sub-document dedup
    stage web-corpus pipelines run between exact and near dedup (repeated
    headers/footers/boilerplate vanish while unique prose survives).

    The fixture corpus has no newline structure, so a "paragraph" here is
    a fixed non-overlapping run of ``chunk_tokens`` whitespace tokens; on
    real corpora pass the text through a newline splitter instead — the
    dedup/reconstruct plan is delimiter-agnostic.

    Plan shape: one map-side chunking explode, ONE window over the
    paragraph hash (partitioned by a high-cardinality key, so the shuffle
    spreads), one per-document re-aggregation. First-occurrence selection
    is deterministic ((id, position) is unique), which is what makes the
    output hash-checkable cross-engine.

    Output: (id, text_dedup, n_kept) — empty string when every chunk of a
    doc already appeared earlier in the corpus.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    from pyspark.sql import Window as W
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1,
                                     chunk_tokens)).alias("chunk")))
    exploded = (df.select(F.col(id_col), F.explode(chunks).alias("c"))
                  .select(id_col, F.col("c.idx").alias("idx"),
                          F.col("c.chunk").alias("chunk")))
    w = W.partitionBy("chunk").orderBy(F.col(id_col), F.col("idx"))
    kept = (exploded.withColumn("rn", F.row_number().over(w))
                    .where(F.col("rn") == 1))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("idx", "chunk"))),
                            lambda x: x["chunk"])).alias("text_dedup"),
                    F.count(F.lit(1)).alias("n_kept")))
    spine = df.select(F.col(id_col))
    return (spine.join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                     .alias("n_kept")))


def dup_ngram_fraction(df: DataFrame, n: int = 8, min_docs: int = 2,
                       max_frac: float = 0.5, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicate-n-gram fraction + keep verdict — the
    document-level consumer of :func:`repeated_spans`: what fraction of a
    doc's distinct ``n``-token spans also appear in at least ``min_docs``
    documents (corpus-wide), and should the doc be dropped for being mostly
    made of cross-doc boilerplate. This is the n-gram-granular analog of
    exact-substring dedup's "fraction of text duplicated elsewhere" score
    (Lee et al., Deduplicating Training Data, ACL 2022) — rank-free, so it
    composes with any downstream threshold sweep.

    Plan shape (three pieces, no corpus-text shuffle):
    - ``n_spans`` per doc is computed MAP-SIDE (``size(array_distinct(...))``
      on the gram array) — the explode below never has to be re-aggregated
      for totals.
    - The duplicated-span set comes from :func:`repeated_spans` (one
      fingerprint hash-aggregate, output proportional to boilerplate).
    - ``n_dup_spans`` = per-doc count of spans hitting that set — an
      equi-join whose SMALL side is the dup-fp list, so AQE broadcasts it
      while it fits and falls back to an fp-keyed shuffle on pathological
      boilerplate-heavy corpora. Docs shorter than ``n`` tokens have no
      spans and are kept with ``dup_frac = 0``.

    Output: (id, n_spans, n_dup_spans, dup_frac, keep).
    """
    spans = shingles(df, n=n, text_col=text_col, id_col=id_col)
    fp = spans.select(id_col, F.md5(F.col("shingle")).alias("span_fp"))
    dup_fps = (repeated_spans(df, n=n, min_docs=min_docs,
                              text_col=text_col, id_col=id_col)
               .select("span_fp"))
    dup_counts = (fp.join(dup_fps, "span_fp")
                    .groupBy(id_col)
                    .agg(F.count(F.lit(1)).alias("n_dup_spans")))
    d = df.select(F.col(id_col), F.split(_norm(text_col), " ").alias("w"))
    grams = F.when(
        F.size("w") >= n,
        F.expr(f"transform(sequence(0, size(w) - {n}),"
               f" i -> concat_ws(' ', slice(w, i + 1, {n})))"),
    ).otherwise(F.array().cast("array<string>"))
    totals = d.select(F.col(id_col),
                      F.size(F.array_distinct(grams)).cast("bigint")
                       .alias("n_spans"))
    frac = F.when(F.col("n_spans") > 0,
                  F.round(F.col("n_dup_spans").cast("double")
                          / F.col("n_spans"), 6)).otherwise(F.lit(0.0))
    return (totals.join(dup_counts, id_col, "left")
            .select(F.col(id_col), F.col("n_spans"),
                    F.coalesce("n_dup_spans", F.lit(0)).cast("bigint")
                     .alias("n_dup_spans"))
            .withColumn("dup_frac", frac)
            .withColumn("keep", F.col("dup_frac") <= F.lit(max_frac)))


def _expand(start: np.ndarray, length: np.ndarray):
    """Item ``k`` expanded to positions ``start[k] .. start[k] +
    length[k] - 1``, yielded as ``(k, pos)`` arrays in item order, at most
    ``_PAIR_CHUNK`` positions per step (an item longer than that is one
    step on its own)."""
    ends = np.cumsum(length)
    lo = 0
    while lo < len(length):
        done = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, done + _PAIR_CHUNK, "right")),
                 lo + 1)
        ln = length[lo:hi]
        k = np.repeat(np.arange(lo, hi), ln)
        shift = np.repeat(start[lo:hi] - (ends[lo:hi] - ln - done), ln)
        yield k, shift + np.arange(len(k))
        lo = hi


def _per_pair(key, m, last_a, last_b):
    """Rows grouped by pair ``key``: ``(key, sum of m, max of last_a, max
    of last_b)``, keys ascending."""
    if not len(key):
        return key, m, last_a, last_b
    order = np.argsort(key, kind="stable")
    key = key[order]
    heads = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    return (key[heads], np.add.reduceat(m[order], heads),
            np.maximum.reduceat(last_a[order], heads),
            np.maximum.reduceat(last_b[order], heads))


def _ppjoin_in_one_task(sh: DataFrame, id_col: str, num: int,
                        den: int) -> DataFrame:
    """PPJoin over the whole shingle table ``sh`` ``(id_col, shingle)`` in
    ONE task (``coalesce(1).mapInPandas``), for t = ``num/den``: overlap
    counts ``(id_a, id_b, n_common, n_a, n_b)``, id_a < id_b, of the
    candidate pairs whose Jaccard may round up to t.

    Ids are factorized with ``sort=True``, so code order is value order
    (for strings, code-point order, which is Spark's UTF-8 binary order)
    and ``id_a < id_b`` means what it means in Spark. Shingles become
    integer codes; each doc's codes are ranked by (document frequency,
    code), a total order, so the prefix rule of :func:`prefix_filter_pairs`
    stays lossless. Candidates are pairs sharing a prefix code that pass
    the length filter and two upper bounds on their overlap, all in exact
    integers; ``n_common`` is then counted exactly. NULL ids never pair
    (as in Spark) and are dropped before the task."""
    key = sh.schema[id_col].dataType
    schema = StructType(
        [StructField("id_a", key), StructField("id_b", key)]
        + [StructField(c, LongType()) for c in ("n_common", "n_a", "n_b")])

    def kernel(batches):
        frames = list(batches)
        if not frames:
            return
        s = pd.concat(frames, ignore_index=True)
        doc, ids = pd.factorize(s[id_col], sort=True)
        code, _ = pd.factorize(s["shingle"])
        ids, n_docs, n_codes = np.asarray(ids), len(ids), int(code.max()) + 1
        # rows grouped by doc, each doc's codes in (frequency, code) order
        order = np.lexsort((code, np.bincount(code)[code], doc))
        doc, code = doc[order], code[order]
        size = np.bincount(doc, minlength=n_docs)
        first = np.cumsum(size) - size
        rank = np.arange(len(doc)) - first[doc]
        n = size[doc]
        # prefix rows: rank < n - ceil(t*n) + 1, ordered by (code, doc)
        p = np.flatnonzero(rank < n - (n * num + den - 1) // den + 1)
        p = p[np.lexsort((doc[p], code[p]))]
        head = np.r_[True, code[p][1:] != code[p][:-1]]
        group_end = np.r_[np.flatnonzero(head)[1:], len(p)][np.cumsum(head) - 1]
        at = np.arange(len(p))
        # per pair: m shared prefix codes, the ranks of the last of them
        parts = [(np.empty(0, np.int64),) * 4]
        for i, j in _expand(at + 1, group_end - at - 1):
            ra, rb = p[i], p[j]
            na, nb = n[ra], n[rb]
            ok = ((doc[ra] < doc[rb])
                  & (np.minimum(na, nb) * den >= np.maximum(na, nb) * num))
            ra, rb = ra[ok], rb[ok]
            parts.append(_per_pair(doc[ra] * n_docs + doc[rb],
                                   np.ones(len(ra), np.int64),
                                   rank[ra], rank[rb]))
        cand, m, last_a, last_b = _per_pair(
            *[np.concatenate(c) for c in zip(*parts)])
        a, b = cand // n_docs, cand % n_docs
        na, nb = size[a], size[b]
        # Codes rank in one global order, so a code both docs share beyond
        # the last shared prefix code ranks after it on BOTH sides: the
        # overlap is m plus at most the shorter remaining suffix.
        rest_a, rest_b = na - last_a - 1, nb - last_b - 1
        alpha = (num * (na + nb) + num + den - 1) // (num + den)
        ok = m + np.minimum(rest_a, rest_b) >= alpha
        # Bucket bound (the count form of the bitmap filter, Sandes et al.
        # 2020): codes fall into `width` buckets by code, and two docs
        # share at most sum over buckets of min(their counts there). The
        # width keeps the doc x bucket table to 16M cells.
        width = int(np.clip((1 << 24) // n_docs, 1, 128))
        counts = np.bincount(doc * width + code % width,
                             minlength=n_docs * width)
        counts = counts.reshape(n_docs, width).astype(
            np.min_scalar_type(size.max()))
        sel = np.flatnonzero(ok)
        step = max(1, _PAIR_CHUNK // width)
        for i in range(0, len(sel), step):
            c = sel[i:i + step]
            ok[c] = np.minimum(counts[a[c]], counts[b[c]]).sum(1) >= alpha[c]
        cand, a, b, m = cand[ok], a[ok], b[ok], m[ok]
        last_a, last_b, rest_a, rest_b = (last_a[ok], last_b[ok],
                                          rest_a[ok], rest_b[ok])
        # count the rest exactly: look the shorter suffix's codes up in the
        # other doc's sorted (doc, code) keys
        a_short = rest_a <= rest_b
        x = np.where(a_short, a, b)
        y = a + b - x
        x_from = first[x] + np.where(a_short, last_a, last_b) + 1
        keys = np.sort(doc * n_codes + code)
        common = m
        for k, pos in _expand(x_from, np.minimum(rest_a, rest_b)):
            probe = y[k] * n_codes + code[pos]
            hit = keys[np.minimum(np.searchsorted(keys, probe),
                                  len(keys) - 1)] == probe
            common += np.bincount(k[hit], minlength=len(cand))
        na, nb = size[a], size[b]
        # the tail's 6-dp rounding lifts a ratio up to 5e-7 below t onto t
        keep = common >= (num / den - 1e-6) * (na + nb - common)
        yield pd.DataFrame({"id_a": ids[a[keep]], "id_b": ids[b[keep]],
                            "n_common": common[keep], "n_a": na[keep],
                            "n_b": nb[keep]})

    return (sh.filter(F.col(id_col).isNotNull()).coalesce(1)
            .mapInPandas(kernel, schema))


def prefix_filter_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the SSJoin/PPJoin
    candidate rule, Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) — the
    deterministic, lossless alternative to MinHash-LSH for Jaccard-join
    at scale: instead of probabilistic banding, each doc contributes only
    its RAREST ``|d| - ceil(t*|d|) + 1`` shingles (under one global
    document-frequency order) to the candidate self-join.

    Why it's lossless: any pair with J >= t shares >= ceil(t*max(|x|,|y|))
    shingles (from J = c/(|x|+|y|-c) and |y| >= c), and two sets that
    share that much overlap MUST collide inside prefixes of length
    |x| - ceil(t*|x|) + 1 under a common total order — so the candidate
    set provably contains every qualifying pair, whichever total order is
    used. Exact Jaccard verification of the surviving candidates then
    matches the full-self-join :func:`jaccard_pairs` result. That match
    is the oracle: DuckDB replays the plain exact join.

    Two execution paths, chosen from the shingle table's MEASURED row
    count (counted by the job that checkpoints the table, so the switch
    costs no extra job):

    - At most ``_PREFIX_ONE_TASK_ROWS`` rows (every bench-scale corpus;
      sf0.1 has 260k): the whole join runs in ONE task
      (:func:`_ppjoin_in_one_task`) on factorized shingle codes in numpy,
      with the same prefix rule and length/positional filters and an
      exact overlap count per candidate. Construction then runs only the
      checkpoint; the kernel runs when the result executes. At this size
      the distributed path's cost is its ~14 eager Spark jobs, not data
      (break-even measured in SCALE.md, x_prefix_filter_join).
    - Larger tables run the distributed PPJoin below, the only path that
      grows past one task. Its tier-1 fingerprint screen is its only loss
      mode: >= 2 within-pair 64-bit hash collisions (expected < 1e-20 at
      10^12 candidate pairs; the prefix/length/positional filters
      themselves are strictly lossless).

    Both paths finish with the same rounding tail
    (:func:`_jaccard_at_least`).

    Distributed path, r10 redesign (profiled at sf0.1/sf1/sf10 — the r9
    watch item): the original verify self-joined the candidate-doc
    shingle table on the shingle string, which is O(sum of
    posting-list^2) over shingles the candidate docs share — at 10x scale
    that stage was ~75% of the wall-clock and the reason the measured
    exponent sat at 0.85/decade.
    Three lossless tightenings (Xiao et al. WWW'08 PPJoin):

    1. LENGTH filter in the candidate join: J >= t forces
       min(|x|,|y|) >= t * max(|x|,|y|) (c <= min and c >= t*max), checked
       in exact rational arithmetic (t = num/1e6).
    2. POSITIONAL filter: for a prefix match at ranks (rn_a, rn_b), the
       overlap can't exceed ub = 1 + min(n_a - rn_a, n_b - rn_b); J >= t
       needs overlap >= alpha = ceil(t/(1+t) * (n_a+n_b)). For a
       qualifying pair, its FIRST common shingle under the global order
       sits inside both prefixes and every common shingle ranks at or
       after it on both sides, so that row passes ub >= alpha — keeping
       any-row-passes pairs is complete. (~3.3x candidate cut measured.)
    3. O(candidates) two-tier verify replacing the co-shingle self-join:
       tier 1 intersects per-doc SORTED xxhash64 fingerprint arrays
       (array_intersect on bigint arrays — 15x faster than binary(16)
       arrays, measured) and keeps pairs whose Jaccard computed with a
       +1-collision safety margin on n_common clears the threshold;
       tier 2 re-verifies that near-output-sized set with the exact
       string-shingle overlap (candidate-gated :func:`_overlap_pairs`).
       Tier 2 makes fingerprint false POSITIVES impossible; a false
       NEGATIVE needs >= 2 distinct 64-bit collisions inside one
       document pair's shingle multiset (expected count < 1e-20 at
       10^12 candidate pairs), vs ~1e-4 single-collision miscounts if
       the fp count were trusted raw — that margin is why tier 1 alone
       is not the answer.

    Scale shape: the frequency join keys on the shingle column the
    explode produced; the per-doc rank is one window over the doc
    partitioning; prefixes concentrate in globally RARE shingles (tiny
    posting lists) so frequent-shingle hubs never enter the self-join;
    verify work is proportional to surviving candidates, not to shared
    posting lists. Ties in document frequency break on the shingle
    string: total order, engine-independent. Measured sf1 wall: 52 s ->
    35 s; verify stage 26 s -> 10 s (fp tier) + ~2 s (exact tier).
    """
    from pyspark.sql import Window as W
    # t as an exact rational num/den (round-half covers any threshold
    # given to <=6 decimals): every filter below compares integers.
    _den = 1_000_000
    _num = int(round(threshold * _den))
    sh, rows = counted_checkpoint(shingles(df, n, text_col, id_col))
    if rows <= _PREFIX_ONE_TASK_ROWS:
        return _jaccard_at_least(_ppjoin_in_one_task(sh, id_col, _num, _den),
                                 threshold)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_freq"))
    # n_sh as an unbounded window count over the SAME doc partitioning the
    # rank sort already established — the separate per-doc sizes aggregate
    # and its join back onto ranked are gone (one less corpus-shingle
    # shuffle + one less join in the candidate stage).
    ranked = (sh.join(freq, "shingle")
              .select(id_col, "shingle", "df_freq")
              .withColumn("rn", F.row_number().over(
                  W.partitionBy(id_col).orderBy("df_freq", "shingle")))
              .withColumn("n_sh",
                          F.count(F.lit(1)).over(W.partitionBy(id_col))))
    # prefix length L = n_sh - ceil(t * n_sh) + 1  (>= 1 whenever n_sh >= 1).
    # ceil in EXACT integer arithmetic, ceil(a/b) = (a+b-1) div b — float
    # F.ceil(t*n) can land one ulp high and shorten the prefix below the
    # completeness bound, silently dropping qualifying pairs.
    ceil_tn = F.expr(f"(n_sh * {_num}L + {_den - 1}L) div {_den}L")
    pref_len = F.col("n_sh") - ceil_tn + 1
    prefix = (ranked.filter(F.col("rn") <= pref_len)
                    .select(id_col, "shingle", "rn", "n_sh"))
    pa = prefix.select(F.col(id_col).alias("id_a"), "shingle",
                       F.col("rn").alias("rn_a"), F.col("n_sh").alias("n_a"))
    pb = prefix.select(F.col(id_col).alias("id_b"), "shingle",
                       F.col("rn").alias("rn_b"), F.col("n_sh").alias("n_b"))
    # alpha = ceil(t/(1+t) * (n_a+n_b)) with t = num/den, exact integers.
    alpha = F.expr(f"(({_num}L * (n_a + n_b)) + {_num + _den - 1}L) "
                   f"div {_num + _den}L")
    ub = F.lit(1) + F.least(F.col("n_a") - F.col("rn_a"),
                            F.col("n_b") - F.col("rn_b"))
    length_ok = (F.least("n_a", "n_b") * _den >=
                 F.greatest("n_a", "n_b") * _num)
    cand = (pa.join(pb, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(length_ok & (ub >= alpha))
            .select("id_a", "id_b").distinct())
    # Tier-1 fingerprint screen: per-doc sorted xxhash64 arrays, overlap
    # via array_intersect, Jaccard with a +1 margin on n_common. n_a/n_b
    # are the EXACT shingle counts (a within-doc fp collision shrinks the
    # array, never the count), so the margin also absorbs one such case.
    # Reads the CHECKPOINTED sh, not the freq-joined frame: an aggregate's
    # partial stage sits below its exchange, so nothing would be reused
    # from the window branch and the freq join would execute twice
    # (measured: the joined-frame variant was ~5% slower end to end).
    docsets = (sh.groupBy(id_col)
               .agg(F.sort_array(F.collect_list(
                        F.xxhash64("shingle"))).alias("sset"),
                    F.count(F.lit(1)).alias("n_sh")))
    da = docsets.select(F.col(id_col).alias("id_a"),
                        F.col("sset").alias("sa"),
                        F.col("n_sh").alias("n_a"))
    db = docsets.select(F.col(id_col).alias("id_b"),
                        F.col("sset").alias("sb"),
                        F.col("n_sh").alias("n_b"))
    c_margin = (F.size(F.array_intersect("sa", "sb")).cast("bigint")
                + F.lit(1))
    screened = (cand.join(da, "id_a").join(db, "id_b")
                # J(c) = c / (n_a + n_b - c) is increasing in c, so
                # J(c_fp + 1) >= t is the exact-rational relaxed test:
                # c_margin * den >= num * (n_a + n_b - c_margin).
                .filter(c_margin * _den >=
                        (F.col("n_a") + F.col("n_b") - c_margin) * _num)
                .select("id_a", "id_b")
                # Materialize ONCE: tier 2 references the survivor frame
                # three times (id-prune + pair-restrict x2) and its
                # lineage embeds the whole prefix+screen pipeline; the
                # set is near-output-sized, tiny next to the corpus.
                .localCheckpoint(eager=True))
    # Tier-2 exact verification of the near-output-sized survivor set —
    # reuses the materialized shingle table (the corpus tokenizes once).
    return jaccard_pairs(df, n=n, threshold=threshold, text_col=text_col,
                         id_col=id_col, candidates=screened, shingles_df=sh)


def exact_substr_spans(df: DataFrame, n: int = 8, min_count: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact substring-level dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022 — the ExactSubstr form):
    the maximal token regions of each document that sit inside ANY
    substring of >= ``n`` tokens occurring >= ``min_count`` times
    corpus-wide (within-document repeats count, as in the paper).

    The reference implementation builds a corpus suffix array; that is a
    single-node ACCELERATION, not part of the semantics. Distributed, the
    removal set is computed exactly from fixed-width windows:

    - every duplicated substring of length >= n is a union of its
      n-token sub-windows, each of which is itself duplicated;
    - every duplicated n-token window is a duplicated substring;

    so "position covered by a duplicated >=n substring" IS "position
    covered by a duplicated n-window". A groupBy on window fingerprints
    therefore reproduces the suffix array's answer — and the suffix
    array's "suffix-ordered span growth" merge step becomes a per-doc
    interval union of the covering windows (gaps-and-islands over the
    hit positions). No pass ever shuffles corpus text: windows travel as
    md5 fingerprints, hits as (id, pos) ints, and the duplicated-window
    list is boilerplate-proportional, never corpus-proportional.

    Output: one row per maximal removed region —
    (id, span_start, span_end, removed_tokens), token positions 0-based
    inclusive. Feed to ``transform``/``filter`` over the token array to
    emit cleaned text; the span table itself is the auditable artifact.
    """
    from pyspark.sql.window import Window

    words = df.select(F.col(id_col), F.split(_norm(text_col), " ").alias("w"))
    grams = (words.filter(F.size("w") >= n)
             .select(F.col(id_col), F.explode(F.expr(
                 f"transform(sequence(0, size(w) - {n}), i -> "
                 f"named_struct('pos', i, 'fp',"
                 f" md5(concat_ws(' ', slice(w, i + 1, {n})))))")).alias("s"))
             .select(F.col(id_col), F.col("s.pos").alias("pos"),
                     F.col("s.fp").alias("fp")))
    dup = (grams.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= min_count).select("fp"))
    hits = grams.join(dup, "fp").select(id_col, "pos")
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    # consecutive hit windows at pos_prev and pos cover contiguous tokens
    # iff pos <= pos_prev + n; a larger jump starts a new removed region
    brk = F.when(F.col("pos") - F.lag("pos").over(w_ord) > n, 1).otherwise(0)
    isl = hits.withColumn("island", F.sum(brk).over(w_ord))
    return (isl.groupBy(id_col, "island")
               .agg(F.min("pos").cast("bigint").alias("span_start"),
                    (F.max("pos") + F.lit(n - 1)).cast("bigint")
                    .alias("span_end"),
                    (F.max("pos") - F.min("pos") + F.lit(n)).cast("bigint")
                    .alias("removed_tokens"))
               .select(id_col, "span_start", "span_end", "removed_tokens"))
