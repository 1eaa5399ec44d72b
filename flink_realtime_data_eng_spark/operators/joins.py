"""Join operators (SURVEY §2.5 J1) + scale-aware helpers.

Reference J1: windowed stream-stream inner equi-join — file stream ⋈ Kafka
stream on user, both sides assigned to the same 5 s tumbling window, emitting
one row per matched pair (WindowJoins.java:106-121).

Spark-first batch form: stamp both sides with the epoch-aligned window bucket
and equi-join on (key, bucket). The bucket is part of the join key, so the
shuffle co-partitions key×window and the per-window cartesian product happens
locally — the same plan scales to 100 TB because no window state is held, and
AQE switches to broadcast when one side is small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def asof_join(left: DataFrame, right: DataFrame, key: str, ts_ms: str,
              value_cols: list[str], tolerance_ms: int | None = None) -> DataFrame:
    """As-of join: for each left row, the LATEST right row with
    ``right.ts <= left.ts`` for the same key (DuckDB ``ASOF JOIN`` /
    pandas ``merge_asof`` semantics; inner — left rows with no prior right
    row are dropped).

    Scale shape: union the two sides with a side tag, ONE shuffle+sort on
    (key, ts) and a last-non-null window carries each right row forward
    onto subsequent left rows — no per-row lookups, no range cross-join.
    The matched right row travels as ONE struct, so its values stay
    atomic even when some ``value_cols`` are NULL (per-column carry would
    stitch fields from different right rows). Right rows sort BEFORE left
    rows at equal timestamps so a tie matches (<=, as-of semantics); equal
    right timestamps break deterministically by struct value (largest
    wins). ``tolerance_ms`` drops matches staler than the bound (pandas
    merge_asof's ``tolerance``).

    Output: all left columns + the matched right ``value_cols`` +
    ``matched_ts_ms`` (the matched right row's timestamp).
    """
    import pyspark.sql.types as T
    lcols = left.columns
    lrest = [c for c in lcols if c not in (key, ts_ms)]
    clash = (set(lrest) | {key, ts_ms, "matched_ts_ms"}) & set(value_cols) \
        | ({"matched_ts_ms"} & set(lrest))
    if clash:
        raise ValueError(
            f"output column collision {sorted(clash)}: rename left columns or "
            "value_cols (the matched right values join the left schema)")
    r_struct_type = T.StructType(
        [T.StructField("matched_ts_ms", T.LongType())]
        + [T.StructField(c, right.schema[c].dataType) for c in value_cols])
    tagged_l = left.select(
        F.col(key), F.col(ts_ms),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_l_{c}") for c in lrest],
        F.lit(None).cast(r_struct_type).alias("_r"))
    tagged_r = right.select(
        F.col(key), F.col(ts_ms),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in lrest],
        F.struct(F.col(ts_ms).cast("bigint").alias("matched_ts_ms"),
                 *[F.col(c) for c in value_cols]).alias("_r"))
    u = tagged_l.unionByName(tagged_r)
    w = (W.partitionBy(key).orderBy(F.col(ts_ms), F.col("_side"), F.col("_r"))
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    carried = u.select(
        key, ts_ms, "_side",
        *[F.col(f"_l_{c}") for c in lrest],
        F.last("_r", ignorenulls=True).over(w).alias("_m"))
    out = (carried.filter((F.col("_side") == 1) & F.col("_m").isNotNull()))
    if tolerance_ms is not None:
        out = out.filter(
            F.col(ts_ms) - F.col("_m")["matched_ts_ms"] <= tolerance_ms)
    return out.select(
        key, ts_ms,
        *[F.col(f"_l_{c}").alias(c) for c in lrest],
        *[F.col("_m")[c].alias(c) for c in value_cols],
        F.col("_m")["matched_ts_ms"].alias("matched_ts_ms"))


def asof_join_forward(left: DataFrame, right: DataFrame, key: str,
                      ts_ms: str, value_cols: list[str],
                      tolerance_ms: int | None = None) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right row with
    ``right.ts >= left.ts`` (the "next event after" lookup: next
    maintenance slot, next price tick after an order).

    Implemented by timestamp negation around :func:`asof_join` — forward
    on ``ts`` is exactly backward on ``-ts`` — so both directions share
    one battle-tested one-shuffle union+carry implementation; only the
    tie rule is mirrored (equal right timestamps break by smallest
    struct value here).
    """
    neg_l = left.withColumn(ts_ms, (-F.col(ts_ms)).cast("long"))
    neg_r = right.withColumn(ts_ms, (-F.col(ts_ms)).cast("long"))
    out = asof_join(neg_l, neg_r, key, ts_ms, value_cols,
                    tolerance_ms=tolerance_ms)
    return (out.withColumn(ts_ms, (-F.col(ts_ms)).cast("long"))
               .withColumn("matched_ts_ms",
                           (-F.col("matched_ts_ms")).cast("long")))


def interval_join(left: DataFrame, right: DataFrame, key: str, ts_ms: str,
                  lower_ms: int, upper_ms: int) -> DataFrame:
    """Interval (range) join: pairs (l, r) with the same key and
    ``l.ts + lower <= r.ts <= l.ts + upper`` (Flink DataStream
    ``intervalJoin`` semantics — not in the reference repo, but a core
    DataStream operator users expect).

    Scale shape: instead of a key-only equi-join with a post-filter (all
    pairs per key!), both sides are bucketed by span-sized ranges and the
    left side explodes to the 2 buckets its window can touch (a closed
    interval of length ``span`` starting at ``floor``-bucket k ends strictly
    before bucket k+2) — the join is then a (key, bucket) equi-join whose
    candidates are already range-local, and the exact predicate trims the
    edges. Shuffle key cardinality scales with time, never with per-key
    row count, and each (l, r) pair meets in exactly one bucket (no dedup
    needed).

    Output: ``key, l_ts_ms, <left payload>, r_ts_ms, <right payload
    r_-prefixed>``.
    """
    span = upper_ms - lower_ms
    if span <= 0:
        raise ValueError(f"upper_ms ({upper_ms}) must exceed lower_ms ({lower_ms})")
    bucket = span
    lrest = [c for c in left.columns if c not in (key, ts_ms)]
    rrest = [c for c in right.columns if c not in (key, ts_ms)]
    out_cols = [key, "l_ts_ms", *lrest, "r_ts_ms", *[f"r_{c}" for c in rrest]]
    if len(set(out_cols)) != len(out_cols):
        raise ValueError(
            f"output column collision in {out_cols}: rename the payload "
            "columns (right payload is emitted with an r_ prefix)")
    l_buckets = F.array(*[
        F.floor((F.col(ts_ms) + lower_ms) / bucket) + i for i in range(2)])
    lb = left.select(
        F.col(key), F.col(ts_ms).alias("l_ts_ms"), *lrest,
        F.explode(l_buckets).alias("_bk"))
    rb = right.select(
        F.col(key).alias(f"r_{key}"), F.col(ts_ms).alias("r_ts_ms"),
        *[F.col(c).alias(f"r_{c}") for c in rrest],
        F.floor(F.col(ts_ms) / bucket).alias("_bk"))
    return (lb.join(rb, (F.col(key) == F.col(f"r_{key}")) & (lb["_bk"] == rb["_bk"]))
            .filter((F.col("r_ts_ms") >= F.col("l_ts_ms") + lower_ms)
                    & (F.col("r_ts_ms") <= F.col("l_ts_ms") + upper_ms))
            .select(*out_cols))


def window_bucket(ts_ms: str | Column, size_ms: int) -> Column:
    """Epoch-aligned tumbling bucket start (exact integer arithmetic).

    Floor semantics (``floor(ts/size)*size``) so pre-epoch (negative)
    timestamps bucket identically to ``F.window()``'s epoch alignment —
    Spark's ``%`` is dividend-signed and would round toward zero instead.
    """
    col = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    return (F.floor(col / F.lit(size_ms)) * size_ms).cast("bigint").alias("window_start_ms")


def windowed_equi_join(left: DataFrame, right: DataFrame, key: str,
                       ts_ms: str, size_ms: int,
                       how: str = "inner") -> DataFrame:
    """J1: per-(key, window) inner join. Columns from both sides survive with
    ``l_``/``r_`` prefixes except the shared key/bucket."""
    lb = left.withColumn("window_start_ms", window_bucket(ts_ms, size_ms))
    rb = right.withColumn("window_start_ms", window_bucket(ts_ms, size_ms))
    lsel = lb.select(key, "window_start_ms",
                     *[F.col(c).alias(f"l_{c}") for c in left.columns
                       if c not in (key,)])
    rsel = rb.select(key, "window_start_ms",
                     *[F.col(c).alias(f"r_{c}") for c in right.columns
                       if c not in (key,)])
    return lsel.join(rsel, on=[key, "window_start_ms"], how=how)


def range_lookup(fact: DataFrame, bands: DataFrame, value_col: str,
                 lo_col: str = "lo", hi_col: str = "hi") -> DataFrame:
    """Band/range lookup: map each fact row to the dimension band whose
    half-open range ``[lo, hi)`` contains ``value_col`` (IP→geo, price→tier,
    latency→SLA-class lookups).

    Scale shape: the bands table is tiny and static by construction (a
    lookup dim), so it broadcasts and the non-equi containment predicate
    evaluates map-side on the fact scan — a BroadcastNestedLoopJoin over a
    few hundred bands is a per-row linear probe that whole-stage codegen
    folds into the scan stage; the fact side never shuffles. If the bands
    were ever fact-scale, the interval-bucketing strategy of
    :func:`interval_join` applies instead.

    Inner join: values outside every band drop (the oracle states the same
    predicate), so coverage gaps surface as row-count differences.
    """
    pred = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return fact.join(F.broadcast(bands), pred)
