"""Streaming sinks (SURVEY §2.2 K1-K4) + ST3 checkpointing plumbing.

Every reference pipeline terminates in one of: a row-format file sink
(chapter2/BasicStreamingOperations.java:90-97), an exactly-once Kafka sink
(chapter4/EventTimeOperations.java:184-208), ``print()``
(chapter2/KeyedStreamOperations.java:71), or a log-side-effect map
(common/MapCountPrinter.java:28-34). Checkpointing is enabled per job
(chapter2/BasicStreamingOperations.java:42).

Spark mapping: ``writeStream`` with format csv/json (K1), kafka (K2),
console (K3), or a ``foreachBatch`` logger (K4). ``checkpointLocation`` is
mandatory for stateful queries — every helper here takes it explicitly
rather than hiding it, because on a cluster it must be durable storage
(HDFS/S3), not a temp dir.

Semantic gap (K2, documented per SURVEY §2.2): the reference configures
``DeliveryGuarantee.EXACTLY_ONCE`` (Kafka transactions). Spark's Kafka sink
is at-least-once; end-to-end exactly-once needs an idempotent/transactional
consumer or a foreachBatch transactional write. :func:`kafka_sink` is
therefore at-least-once and says so.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def file_sink(df: DataFrame, path: str, checkpoint: str,
              fmt: str = "csv", output_mode: str = "append") -> DataStreamWriter:
    """K1: row-format streaming file sink (parity:
    chapter2/BasicStreamingOperations.java:90-97). File sinks only support
    append mode — aggregations must be watermarked so finalized windows
    append."""
    return (df.writeStream.format(fmt)
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode))


def kafka_sink(df: DataFrame, topic: str, checkpoint: str,
               bootstrap_servers: str = "kafka-broker:9092") -> DataStreamWriter:
    """K2: Kafka sink — AT-LEAST-ONCE (documented gap vs the reference's
    transactional exactly-once, chapter4/EventTimeOperations.java:191-195).
    Expects a ``value`` (and optionally ``key``) string/binary column."""
    return (df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint))


def console_sink(df: DataFrame, output_mode: str = "append",
                 truncate: bool = False) -> DataStreamWriter:
    """K3: print/console sink (chapter2/KeyedStreamOperations.java:71)."""
    return (df.writeStream.format("console")
            .option("truncate", str(truncate).lower())
            .outputMode(output_mode))


def memory_sink(df: DataFrame, name: str,
                output_mode: str = "append") -> DataStreamWriter:
    """Test sink: results land in an in-memory table ``name`` queryable via
    ``spark.sql``. The pytest analog of watching taskmanager logs."""
    return df.writeStream.format("memory").queryName(name).outputMode(output_mode)


def log_sink(df: DataFrame,
             log_fn: Callable[[int, list], None] | None = None,
             output_mode: str = "append") -> DataStreamWriter:
    """K4: the reference's log-side-effect "sink" (MapCountPrinter.java:28-34
    — a map that logs and returns null). Spark-first this is a foreachBatch
    that hands each micro-batch's rows to a logger — the stream itself stays
    declarative; the side effect is confined to the sink.

    DEBUG ONLY — unbounded driver transfer: every micro-batch is
    ``collect()``-ed to the driver in full, which is exactly right for
    the K4 debugging surface it emulates and exactly wrong for any
    pipeline path. Registered queries must never route through this
    sink (tests/test_plan_lint.py's registry sweep guards the batch
    side; this sink is streaming-only and excluded from STREAMING_DEMOS
    by convention)."""
    def _log(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # sink boundary: rows leave the plan here
        if log_fn is not None:
            log_fn(batch_id, rows)
        else:
            for r in rows:
                print(f"[batch {batch_id}] {tuple(r)}")
    return df.writeStream.foreachBatch(_log).outputMode(output_mode)


def idempotent_file_sink(df: DataFrame, path: str, checkpoint: str,
                         fmt: str = "parquet") -> DataStreamWriter:
    """K2 mitigation: effectively-once file delivery via foreachBatch.

    Spark's sinks are at-least-once under retries: a micro-batch replayed
    after a failure re-appends its rows. Writing each micro-batch to a
    directory keyed by ``batch_id`` with mode=overwrite makes the replay
    idempotent — the retried batch overwrites its own partial output
    instead of duplicating it. This is the standard Spark answer to the
    reference's transactional Kafka sink
    (chapter4/EventTimeOperations.java:184-208): exactly-once EFFECT at the
    sink without distributed transactions. Readers see
    ``path/batch_id=N/...`` as one partitioned dataset.

    Append mode ONLY: under update/complete every micro-batch would write
    the full/updated result into its own batch directory and the union
    read would double-count — so the mode is pinned.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .format(fmt).save(f"{path}/batch_id={batch_id}"))

    return (df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def manifest_file_sink(df: DataFrame, path: str, checkpoint: str,
                       fmt: str = "parquet") -> DataStreamWriter:
    """K2 strengthening over :func:`idempotent_file_sink`: exactly-once
    VISIBILITY via a commit manifest, the two-phase protocol transactional
    table formats use.

    Each micro-batch (1) writes its files to a staging directory, then
    (2) atomically publishes a manifest (write-temp + rename) naming
    exactly the files that belong to the batch. :func:`read_manifest`
    unions only manifest-listed files, so a reader NEVER sees a batch's
    partial output — a crash between write and publish leaves invisible
    staging files, and a replayed batch overwrites its staging dir and
    republishes the same manifest (idempotent on both phases).

    The manifest I/O here is local-filesystem (os.replace is the atomic
    primitive); on object stores the same protocol is what Delta/Iceberg
    commit logs implement — use those in production, this sink documents
    the mechanism. Append mode only, same reason as the idempotent sink.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        publish_batch(batch_df, path, batch_id, fmt=fmt)

    return (df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def publish_batch(batch_df: DataFrame, path: str, batch_id: int,
                  fmt: str = "parquet",
                  removed: list[str] | None = None,
                  stats_cols: list[str] | None = None,
                  checkpoint_every: int | None = 10,
                  bloom_cols: list[str] | None = None,
                  bloom_bits: int = 8192,
                  bloom_hashes: int = 4) -> None:
    """One commit of the manifest protocol (the foreachBatch body of
    :func:`manifest_file_sink`, shared with :func:`merge_into`): write the
    batch to its staging dir, then atomically publish a manifest naming
    exactly its files — plus, for rewrite commits, the ``removed`` file
    list (the Delta/Iceberg remove-action tombstone) that un-publishes
    files from EARLIER commits.

    ``stats_cols`` records per-file [min, max] for the named columns in
    the manifest (the Iceberg manifest-entry / Delta add-action stats),
    computed in ONE distributed pass over the staged files — the basis
    for :func:`read_manifest`'s predicate file-skipping. Stats only pay
    off when the writer CLUSTERS the column (e.g. repartitionByRange
    before publishing), exactly as in the production formats.

    Every ``checkpoint_every`` commits (Delta's every-10 default) a log
    checkpoint rides the publish (:func:`write_checkpoint`), keeping
    reader scan planning O(1 + tail) on long-lived tables; ``None``
    disables.

    ``bloom_cols`` records a per-file BLOOM FILTER for the named columns
    (r12 VERDICT optional-breadth: the point-lookup complement to
    min/max stats — Parquet's bloom_filter_enabled / Iceberg's
    manifest-level blooms): ``bloom_hashes`` positions per value via
    ``xxhash64(col, seed) mod bloom_bits``, OR-folded into one
    ``bloom_bits``-bit bitmap per (file, column), stored hex in the
    manifest beside the stats. :func:`read_manifest`'s ``prune_eq``
    tests membership before opening any file — the case min/max can't
    help: a high-cardinality key hash-scattered across files, where
    every file's [min, max] spans the whole domain. Positions ride the
    SAME single distributed stats pass; false positives only ever read
    an extra file (superset semantics, like stats)."""
    import json
    import os
    staging = os.path.join(path, "_staging", f"batch-{batch_id}")
    meta = _stage_and_describe(batch_df, path, staging, fmt, removed,
                               stats_cols, bloom_cols, bloom_bits,
                               bloom_hashes)
    meta["batch_id"] = batch_id
    mdir = os.path.join(path, "_manifests")
    tmp = os.path.join(mdir, f".batch-{batch_id}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(mdir, f"batch-{batch_id}.json"))
    if (checkpoint_every and batch_id > 0
            and batch_id % checkpoint_every == 0):
        write_checkpoint(path, batch_id)


def _stage_and_describe(batch_df: DataFrame, path: str, staging: str,
                        fmt: str, removed, stats_cols, bloom_cols,
                        bloom_bits: int, bloom_hashes: int) -> dict:
    """Phase 1 of any commit: write the batch to ``staging``, compute
    the per-file stats/bloom entries in one distributed pass, and return
    the manifest meta WITHOUT a batch id (the id is the commit claim —
    :func:`publish_batch` pins it, :func:`publish_batch_occ` races for
    it)."""
    import os
    from pyspark.sql import functions as F
    batch_df.write.mode("overwrite").format(fmt).save(staging)
    files = sorted(f for f in os.listdir(staging)
                   if not f.startswith(("_", ".")))
    os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
    # TABLE-RELATIVE paths (what Delta/Iceberg logs record): the table
    # stays readable after a directory move/rename — which also makes
    # build-in-scratch-then-rename publication of whole tables sound.
    meta: dict = {"dir": os.path.relpath(staging, path), "files": files}
    if removed:
        meta["removed"] = sorted(removed)
    if stats_cols or bloom_cols:
        spark = batch_df.sparkSession
        staged = spark.read.format(fmt).load(staging)
        aggs = [a for c in (stats_cols or [])
                for a in (F.min(c).alias(f"_mn_{c}"),
                          F.max(c).alias(f"_mx_{c}"))]
        for c in (bloom_cols or []):
            for i in range(bloom_hashes):
                aggs.append(F.collect_set(
                    F.pmod(F.xxhash64(F.col(c), F.lit(i)),
                           F.lit(bloom_bits))).alias(f"_bl_{c}_{i}"))
        rows = (staged
                .groupBy(F.element_at(F.split(F.input_file_name(), "/"),
                                      -1).alias("_f"))
                .agg(*aggs)
                .collect())  # |files|-bounded (set sizes capped by
        # min(distinct-per-file, bloom_bits))
        stats = {r["_f"]: {c: [r[f"_mn_{c}"], r[f"_mx_{c}"]]
                           for c in (stats_cols or [])} for r in rows}
        if bloom_cols:
            dts = {c: staged.schema[c].dataType.simpleString()
                   for c in bloom_cols}
            for r in rows:
                bl = {}
                for c in bloom_cols:
                    bits = 0
                    for i in range(bloom_hashes):
                        for p in r[f"_bl_{c}_{i}"]:
                            bits |= 1 << int(p)
                    bl[c] = {"m": bloom_bits, "k": bloom_hashes,
                             "dt": dts[c], "hex": format(bits, "x")}
                stats[r["_f"]]["__bloom__"] = bl
        meta["stats"] = stats
    return meta


def publish_batch_occ(batch_df: DataFrame, path: str,
                      fmt: str = "parquet",
                      removed: list[str] | None = None,
                      stats_cols: list[str] | None = None,
                      bloom_cols: list[str] | None = None,
                      bloom_bits: int = 8192, bloom_hashes: int = 4,
                      checkpoint_every: int | None = 10,
                      max_retries: int = 10) -> int:
    """OPTIMISTIC-CONCURRENCY commit — the Iceberg commit loop / Delta
    conditional-put, lifting :func:`merge_into`'s documented
    single-writer precondition (r13): stage once under a txn-unique dir
    (id-independent, so a lost race never restages), then race for the
    next commit id by ATOMIC CLAIM — ``os.link`` of the prepared
    manifest onto ``batch-N.json`` fails with EEXIST if another writer
    claimed N first, in which case the loser revalidates and retries at
    N+1. Revalidation is the conflict check: if a concurrent commit
    already removed (or expired) a file this commit tombstones, its
    snapshot premise is stale and the commit raises instead of
    publishing a double-delete — detected conflicts need the caller to
    re-run its probe, exactly Iceberg's ``CommitFailedException``
    contract. Pure appends (no ``removed``) never conflict, only
    re-race. Returns the claimed batch id.

    NOTE: ``os.link`` is the local-FS stand-in for the conditional put
    (If-None-Match) that object-store table formats use; same protocol,
    different primitive."""
    import os
    import uuid
    staging = os.path.join(path, "_staging", f"txn-{uuid.uuid4().hex}")
    meta = _stage_and_describe(batch_df, path, staging, fmt, removed,
                               stats_cols, bloom_cols, bloom_bits,
                               bloom_hashes)
    return _claim_commit(path, meta, checkpoint_every, max_retries)


def _claim_commit(path: str, meta: dict, checkpoint_every: int | None,
                  max_retries: int) -> int:
    """The OCC claim loop shared by :func:`publish_batch_occ` and
    :func:`delete_where`: race for the next commit id, revalidate
    tombstones against the CURRENT live set (data + delete files),
    atomically claim the manifest via link."""
    import json
    import os
    import uuid
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    rm = set(meta.get("removed", []))
    for _ in range(max_retries):
        chain, _ck = _manifest_chain(path)
        next_id = chain[-1][0] + 1 if chain else 0
        if rm:
            data, dels = _fold_state(path)
            ap = os.path.abspath(path)
            live_rel = {os.path.relpath(p, ap)
                        for p in (*data, *dels)}
            gone = sorted(rm - live_rel)
            if gone:
                raise RuntimeError(
                    f"concurrent modification: files this commit removes "
                    f"are no longer live (a concurrent commit rewrote or "
                    f"expired them) — re-run the probe: {gone[:5]}")
        meta["batch_id"] = next_id
        tmp = os.path.join(mdir, f".occ-{uuid.uuid4().hex}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        target = os.path.join(mdir, f"batch-{next_id}.json")
        try:
            os.link(tmp, target)  # atomic claim: EEXIST = lost the race
        except FileExistsError:
            os.remove(tmp)
            continue
        os.remove(tmp)
        if (checkpoint_every and next_id > 0
                and next_id % checkpoint_every == 0):
            write_checkpoint(path, next_id)
        return next_id
    raise RuntimeError(
        f"commit contention: lost the claim race {max_retries} times "
        f"under {path}")


def delete_where(spark, path: str, condition, fmt: str = "parquet",
                 max_retries: int = 10) -> int:
    """MERGE-ON-READ row deletion (Iceberg equality deletes / Delta
    deletion vectors, r13): delete the rows matching ``condition``
    WITHOUT rewriting a single data file — the matched rows' full
    content commits as an EQUALITY-DELETE payload, and
    :func:`read_manifest` anti-joins it against exactly the data files
    it applies to by the SEQUENCE RULE (delete commit id > data-file
    commit id), so rows appended — or rewritten by OPTIMIZE — after the
    delete are immune even if byte-identical. Write cost scales with
    the MATCHED rows, not the touched files (the point of
    merge-on-read: a 10-row delete on a 100 TB table writes 10 rows);
    the read side pays one small anti-join per file group until
    :func:`optimize_table` MATERIALIZES the deletes (rewrites survivors,
    tombstones the delete files). Commits through the OCC loop.
    Returns the delete commit's batch id.

    Duplicate rows: equality-delete semantics — every copy of a matched
    row dies (the payload is full-row, so distinct rows never
    collide)."""
    import os
    import uuid
    snap = read_manifest(spark, path, fmt=fmt)  # prior deletes apply
    matched = snap.filter(condition)
    staging = os.path.join(path, "_staging", f"txn-{uuid.uuid4().hex}")
    matched.write.mode("overwrite").format(fmt).save(staging)
    files = sorted(f for f in os.listdir(staging)
                   if not f.startswith(("_", ".")))
    meta = {"dir": os.path.relpath(staging, path),
            "delete_files": files}
    return _claim_commit(path, meta, checkpoint_every=10,
                         max_retries=max_retries)


_last_fold_parsed = 0  # log files parsed by the most recent _fold_live


def _manifest_chain(path: str):
    """Filename-indexed view of the commit log: sorted
    ``[(batch_id, filepath)]`` of chain manifests (``batch-N.json``,
    including expiry-compacted ones) plus ``{ckpt_id: filepath}`` of log
    checkpoints (``checkpoint.N.json``). Selection by FILENAME is the
    point — readers decide which files to parse without opening any."""
    import glob as _glob
    import os
    import re as _re
    mdir = os.path.join(path, "_manifests")
    chain, ckpts = [], {}
    for m in _glob.glob(os.path.join(mdir, "batch-*.json")):
        g = _re.search(r"batch-(\d+)\.json$", m)
        if g:
            chain.append((int(g.group(1)), m))
    for m in _glob.glob(os.path.join(mdir, "checkpoint.*.json")):
        g = _re.search(r"checkpoint\.(\d+)\.json$", m)
        if g:
            ckpts[int(g.group(1))] = m
    chain.sort()  # numeric commit order — lexicographic glob order would
    # apply batch-10's tombstones before batch-2's additions
    return chain, ckpts


def _fold_state(path: str, as_of_batch: int | None = None):
    """Fold the commit log as of ``as_of_batch`` (None = latest) to
    ``(data, dels)``:

    - ``data``: abs data-file path → ``{"st": per-file stats|None,
      "bid": adding commit id}`` — the bid is the file's SEQUENCE
      NUMBER (Iceberg's data-sequence-number), which decides which
      equality deletes apply to it;
    - ``dels``: abs equality-delete-file path → its commit id. A delete
      file's rows kill equal rows ONLY in data files with a SMALLER
      bid — rows appended or rewritten after the delete are immune,
      exactly Iceberg's sequence rule.

    Parses the newest checkpoint <= the horizon plus only the manifest
    TAIL after it — O(1 + tail) file reads, the Delta/Iceberg
    log-replay shape. Pre-r13 checkpoints lack per-path bids; their
    files get the checkpoint's own id (an upper bound on the true bid,
    so the sequence comparison stays conservative-correct: any delete
    newer than the checkpoint still applies). Records the number of log
    files actually parsed in ``_last_fold_parsed``."""
    import json
    import os
    global _last_fold_parsed
    _last_fold_parsed = 0
    chain, ckpts = _manifest_chain(path)

    def _abs(p: str) -> str:
        # manifests record table-relative paths (older ones absolute —
        # honor both); everything resolves against the CURRENT table dir
        return p if os.path.isabs(p) else os.path.join(path, p)

    usable = [c for c in ckpts
              if as_of_batch is None or c <= as_of_batch]
    base = max(usable) if usable else None
    data: dict[str, dict] = {}
    dels: dict[str, int] = {}

    def _fold_compacted(meta: dict, default_bid: int) -> None:
        # checkpoint / expiry-compacted manifest: flat path lists with
        # optional per-path stats and bids
        fp_stats = meta.get("file_stats", {})
        fp_bids = meta.get("file_bids", {})
        for p in meta.get("file_paths", []):
            data[_abs(p)] = {"st": fp_stats.get(p),
                             "bid": fp_bids.get(p, default_bid)}
        d_bids = meta.get("delete_bids", {})
        for p in meta.get("delete_paths", []):
            dels[_abs(p)] = d_bids.get(p, default_bid)

    if base is not None:
        with open(ckpts[base]) as fh:
            meta = json.load(fh)
        _last_fold_parsed += 1
        _fold_compacted(meta, base)
    for bid, m in chain:
        if base is not None and bid <= base:
            continue  # already folded into the checkpoint
        if as_of_batch is not None and bid > as_of_batch:
            continue
        with open(m) as fh:
            meta = json.load(fh)
        _last_fold_parsed += 1
        for rm in meta.get("removed", []):
            data.pop(_abs(rm), None)
            dels.pop(_abs(rm), None)
        stats = meta.get("stats", {})
        for f in meta.get("files", []):
            data[os.path.join(_abs(meta["dir"]), f)] = \
                {"st": stats.get(f), "bid": bid}
        for f in meta.get("delete_files", []):
            dels[os.path.join(_abs(meta["dir"]), f)] = bid
        _fold_compacted(meta, bid)  # expiry-compacted manifest
    return data, dels


def _fold_live(path: str, as_of_batch: int | None = None
               ) -> "dict[str, dict | None]":
    """Back-compat view of :func:`_fold_state`: live DATA files only,
    abs path → per-file stats."""
    data, _dels = _fold_state(path, as_of_batch)
    return {p: v["st"] for p, v in data.items()}


def write_checkpoint(path: str, batch_id: int | None = None) -> int:
    """Write a LOG CHECKPOINT — the Delta ``checkpoint.parquet`` /
    ``_last_checkpoint`` mechanism on this module's manifest protocol
    (r12 VERDICT item 4): the folded live-file set (+ per-file stats) as
    of ``batch_id`` (default: newest commit) lands atomically in
    ``_manifests/checkpoint.<id>.json``, and ``_manifests/_last_checkpoint``
    points at it. Readers then parse checkpoint + tail only — O(1 + N)
    manifest reads per scan instead of O(commits).

    Unlike :func:`expire_manifests` this deletes NOTHING: every chain
    manifest stays, so time travel to any batch — before or after the
    checkpoint — still resolves (the fold just starts from an older
    checkpoint, or from empty). The checkpoint itself folds
    incrementally (previous checkpoint + tail), so amortized write cost
    per commit is O(1). Returns the checkpoint's batch id."""
    import json
    import os
    chain, _ = _manifest_chain(path)
    if batch_id is None:
        if not chain:
            raise FileNotFoundError(f"no committed manifests under {path}")
        batch_id = chain[-1][0]
    data, dels = _fold_state(path, as_of_batch=batch_id)
    ap = os.path.abspath(path)
    rel = {os.path.relpath(p, ap): v for p, v in data.items()}
    meta = {"batch_id": batch_id, "file_paths": sorted(rel),
            "file_bids": {p: v["bid"] for p, v in rel.items()}}
    fps = {p: v["st"] for p, v in rel.items() if v["st"] is not None}
    if fps:
        meta["file_stats"] = fps
    if dels:
        drel = {os.path.relpath(p, ap): b for p, b in dels.items()}
        meta["delete_paths"] = sorted(drel)
        meta["delete_bids"] = drel
    mdir = os.path.join(path, "_manifests")
    tmp = os.path.join(mdir, f".checkpoint.{batch_id}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(mdir, f"checkpoint.{batch_id}.json"))
    tmp = os.path.join(mdir, "._last_checkpoint.tmp")
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id}, fh)
    os.replace(tmp, os.path.join(mdir, "_last_checkpoint"))
    return batch_id


def read_manifest(spark, path: str, fmt: str = "parquet",
                  as_of_batch: int | None = None,
                  prune: tuple | None = None,
                  prune_eq: tuple | None = None,
                  merge_schema: bool = False,
                  ref: str | None = None) -> DataFrame:
    """Read exactly the committed output of :func:`manifest_file_sink`:
    the union of files named by published manifests. Staging files without
    a manifest (in-flight or crashed batches) are invisible.

    ``prune=(col, lo, hi)`` is DATA SKIPPING on the per-file stats
    :func:`publish_batch` recorded: files whose [min, max] for ``col``
    is disjoint from [lo, hi] are never opened (the Iceberg/Delta scan
    planning step). Files without recorded stats are always read, so
    pruning can only ever skip provably-irrelevant files — the returned
    rows are a SUPERSET of the predicate match and the caller still
    applies the row-level filter.

    ``prune_eq=(col, value)`` is POINT-LOOKUP skipping (r13): files are
    dropped when their [min, max] excludes ``value`` OR their per-file
    Bloom filter (recorded by :func:`publish_batch` ``bloom_cols``)
    proves ``value`` absent — the case range stats can't prune, a
    high-cardinality key hash-scattered so every file spans the domain.
    Bloom false positives only ever read an extra file; files without a
    recorded bloom are always read — same superset contract as
    ``prune``.

    ``as_of_batch`` is TIME TRAVEL on the commit log: read only batches
    with id <= N — the state a reader saw right after batch N published.
    Because batches are immutable once published (replays overwrite the
    SAME staging dir and republish the SAME manifest), any historical
    snapshot is reconstructible from the manifest set alone — the
    mechanism Delta/Iceberg VERSION AS OF productionize. A commit's
    ``removed`` tombstones (from :func:`merge_into` rewrites) apply only
    when that commit is inside the as-of horizon, so pre-merge snapshots
    still see the files the merge later rewrote.

    Scan planning is O(tail), not O(commits) (r13): the newest usable
    log checkpoint (``checkpoint.<C>.json``, written every
    ``checkpoint_every`` commits by :func:`publish_batch` via
    :func:`write_checkpoint` — the Delta ``_last_checkpoint``
    mechanism) seeds the live set; only manifests AFTER it are parsed.
    Time travel before a checkpoint picks an older checkpoint or folds
    the raw chain — checkpoints never delete history.

    ``merge_schema=True`` is SCHEMA EVOLUTION on read (Delta
    ``mergeSchema`` / Iceberg schema unions): commits may add columns
    over the table's life; the merged read unions all live files'
    schemas and fills columns absent from older files with NULL —
    metadata-only evolution, no historical file rewritten. Default off:
    schema-stable tables shouldn't pay the footer-union planning
    cost.

    ``ref`` reads the snapshot a NAMED TAG pins (:func:`create_tag` —
    Iceberg ``VERSION AS OF 'tag'``); mutually exclusive with
    ``as_of_batch``."""
    if ref is not None:
        if as_of_batch is not None:
            raise ValueError("pass either ref or as_of_batch, not both")
        as_of_batch = resolve_tag(path, ref)
    data, dels = _fold_state(path, as_of_batch)
    if not data:
        raise FileNotFoundError(
            f"no committed manifests under {path}"
            + (f" with batch_id <= {as_of_batch}"
               if as_of_batch is not None else ""))
    if dels and merge_schema:
        raise ValueError(
            "merge_schema with live equality deletes is unsupported — "
            "materialize them first (optimize_table)")
    any_live = next(iter(data))
    live = {p: v["st"] for p, v in data.items()}
    if prune is not None:
        col, lo, hi = prune
        # null min/max = column all-NULL in that file → no usable stats,
        # always read it (skipping may only drop provably-disjoint files)
        live = {p: st for p, st in live.items()
                if st is None or col not in st
                or st[col][0] is None or st[col][1] is None
                or (st[col][0] <= hi and st[col][1] >= lo)}
    if prune_eq is not None:
        from pyspark.sql import functions as F
        ecol, val = prune_eq
        pos_cache: dict[tuple, list[int]] = {}

        def _positions(m: int, k: int, dt: str) -> list[int]:
            # the probe value hashed EXACTLY as the writer hashed the
            # column: same xxhash64 seeds, same Spark type (1-row job)
            if (m, k, dt) not in pos_cache:
                row = spark.range(1).select(
                    *[F.pmod(F.xxhash64(F.lit(val).cast(dt), F.lit(i)),
                             F.lit(m)).alias(f"p{i}")
                      for i in range(k)]).collect()[0]
                pos_cache[(m, k, dt)] = [int(row[f"p{i}"])
                                         for i in range(k)]
            return pos_cache[(m, k, dt)]

        def _keep(st) -> bool:
            if st is None:
                return True
            if (ecol in st and st[ecol][0] is not None
                    and st[ecol][1] is not None
                    and not (st[ecol][0] <= val <= st[ecol][1])):
                return False
            bl = (st.get("__bloom__") or {}).get(ecol)
            if bl:
                bits = int(bl["hex"], 16)
                return all((bits >> p) & 1
                           for p in _positions(bl["m"], bl["k"],
                                               bl["dt"]))
            return True

        live = {p: st for p, st in live.items() if _keep(st)}
    paths = list(live)
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if not paths:
        # valid range query whose predicate skips every live file: a
        # 0-row result, not an error — recover the table schema from
        # one live (pre-prune) file so downstream plans still resolve
        schema = reader.load(any_live).schema
        return spark.createDataFrame([], schema)
    if dels:
        return _dv_read(spark, fmt,
                        {p: data[p]["bid"] for p in paths}, dels)
    return reader.load(paths)


def _dv_read(spark, fmt: str, data_bids: "dict[str, int]",
             dels: "dict[str, int]") -> DataFrame:
    """Merge-on-read plan: anti-join each data-file group against the
    equality-delete files that APPLY to it by the sequence rule (delete
    bid > data-file bid). Files are grouped by their applicable-delete
    set — at most |distinct delete bids|+1 groups, bounded by the
    commit count between materializations — so each group is one scan +
    one null-safe anti-join against the (small) delete payload."""
    groups: dict[tuple, list[str]] = {}
    for p, bid in data_bids.items():
        applicable = tuple(sorted(d for d, db in dels.items()
                                  if db > bid))
        groups.setdefault(applicable, []).append(p)
    parts = []
    for dfiles, paths in groups.items():
        part = spark.read.format(fmt).load(sorted(paths))
        if dfiles:
            ddf = spark.read.format(fmt).load(list(dfiles))
            cond = None
            for c in part.columns:
                e = part[c].eqNullSafe(ddf[c])
                cond = e if cond is None else cond & e
            part = part.join(ddf, cond, "left_anti")
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_into(spark, path: str, source: DataFrame, key_cols: list[str],
               when_matched: str = "update", fmt: str = "parquet") -> int:
    """MERGE INTO compiled onto a commit-manifest table — file-level
    copy-on-write, the Delta/Iceberg MERGE mechanism expressed through
    this module's manifest protocol (r10 VERDICT optional-breadth item).

    Semantics (``when_matched``):

    - ``"update"``: classic upsert — target rows whose key matches a
      source row are REPLACED by it; source rows with no target match
      are INSERTED; untouched target rows persist.
    - ``"delete"``: WHEN MATCHED THEN DELETE — matched target rows are
      removed; unmatched source rows are ignored.

    Scale shape (the reason this is not "rewrite the table"): only the
    FILES that physically contain a matching key are rewritten. The
    match probe is one distributed left-semi join from the committed
    snapshot (tagged with ``input_file_name``) against the source keys;
    the driver collects only the |files|-bounded touched-file list.
    Untouched files stay exactly where they are — the new commit adds
    the rewritten rows and tombstones the touched files (``removed`` in
    the manifest), so commit cost scales with the touched slice, not the
    table. Readers before/after see consistent snapshots (atomic
    manifest publish), and time travel to any pre-merge batch still
    resolves the original files. Returns the new commit's batch_id.

    Concurrency (r13): commits go through the optimistic-concurrency
    loop (:func:`publish_batch_occ` — Iceberg's commit protocol): the
    batch id is claimed atomically, a lost race retries at the next id,
    and revalidation raises loudly if a concurrent commit already
    rewrote/expired a file this merge tombstones (stale snapshot
    premise → caller re-runs the probe, Iceberg's
    ``CommitFailedException`` contract).
    """
    import os
    from pyspark.sql import functions as F
    if when_matched not in ("update", "delete"):
        raise ValueError(f"unsupported when_matched {when_matched!r}")
    data, dels = _fold_state(path)
    if not data:
        raise FileNotFoundError(f"no committed manifests under {path}")
    # the file probe tags the RAW data read (input_file_name needs a
    # single source; the merge-on-read plan is a union) — a file whose
    # only matching rows are DV-dead just gets a harmless rewrite, the
    # DV-aware kept_src below preserves every survivor exactly
    raw = spark.read.format(fmt).load(list(data))
    if when_matched == "update" and source.columns != raw.columns:
        raise ValueError(
            f"source columns {source.columns} must match target schema "
            f"{raw.columns} for when_matched='update'")
    keys = source.select(*key_cols)
    # normalize input_file_name's file: URI to the manifest's plain path
    tagged = raw.withColumn(
        "_file", F.regexp_replace(F.input_file_name(), "^file:(//)?", ""))
    touched = [r["_file"] for r in
               (tagged.join(keys, key_cols, "left_semi")
                .select("_file").distinct().collect())]
    if touched:
        if dels:
            # the rewrite must not resurrect rows a pending equality
            # delete killed: re-read the touched files through the
            # same sequence-aware merge-on-read plan the snapshot used
            by_abs = {os.path.abspath(p): v["bid"]
                      for p, v in data.items()}
            tb = {t: by_abs[os.path.abspath(t)] for t in touched}
            kept_src = _dv_read(spark, fmt, tb, dels)
        else:
            kept_src = spark.read.format(fmt).load(touched)
        kept = kept_src.join(keys, key_cols, "left_anti")
    else:
        kept = spark.createDataFrame([], raw.schema)
    new_rows = kept.unionByName(source) if when_matched == "update" else kept
    # tombstones table-relative, like the manifests' own file lists —
    # they must keep resolving if the table directory is moved
    rel_removed = [os.path.relpath(t, os.path.abspath(path))
                   for t in touched]
    # a table with a declared partition spec keeps its stats/bloom
    # coverage through rewrites (Delta/Iceberg record stats on EVERY
    # write) — otherwise each merge would silently erode file skipping
    # on the files it rewrote
    spec = current_partition_spec(path)
    # commit through the optimistic-concurrency loop: the claim races
    # cleanly, and its revalidation turns a racing rewrite of the same
    # files into a loud conflict instead of a silent double-delete
    return publish_batch_occ(
        new_rows, path, fmt=fmt, removed=rel_removed,
        stats_cols=(spec or {}).get("stats_cols") or None,
        bloom_cols=(spec or {}).get("bloom_cols") or None)


def optimize_table(spark, path: str, cluster_by=None,
                   target_files: int = 8, fmt: str = "parquet",
                   stats_cols: list[str] | None = None) -> int:
    """Delta ``OPTIMIZE [ZORDER BY]`` / Iceberg ``rewrite_data_files``
    on the commit-manifest table: rewrite the live snapshot as
    ``target_files`` files — clustered when ``cluster_by`` is given, so
    :func:`read_manifest`'s stats pruning becomes effective on a table
    whose writes weren't clustered — and commit the rewrite tombstoning
    every previous live file. Logically a no-op (same rows before and
    after, which is what the oracle checks); physically it collapses
    small-file accumulation and restores clustering, the maintenance job
    every streaming-ingested 100 TB table runs. Time travel to
    pre-optimize batches still resolves the original files (their
    manifests are untouched until :func:`expire_manifests`).

    ``cluster_by``: a single column name range-clusters linearly; a LIST
    of integral columns Z-ORDERS — each column min-max-normalized to 16
    bits (bounds from one 1-row aggregate) and bit-interleaved into a
    single curve key, so a file's [min, max] stays tight on EVERY listed
    column and pruning works on any of them, not just the sort leader —
    the actual reason ZORDER exists. Single writer, like
    :func:`merge_into`. Returns the new batch_id.
    """
    import os
    from pyspark.sql import functions as F
    snap = read_manifest(spark, path, fmt=fmt)  # equality deletes apply
    # tombstone EVERYTHING live from the log — data files AND pending
    # equality-delete files (OPTIMIZE is the materialization point: the
    # rewrite holds only survivors, so the delete payloads retire here;
    # input_file_name can't see delete files, the fold can)
    st_data, st_dels = _fold_state(path)
    live = [*st_data, *st_dels]
    chain, _ = _manifest_chain(path)
    next_id = chain[-1][0] + 1 if chain else 0
    if isinstance(cluster_by, (list, tuple)) and len(cluster_by) > 1:
        k = len(cluster_by)
        if k > 4:
            # 16 bits/col interleaved: positions reach 16*k-1, and past 63
            # Java's shift masking would silently wrap them into low bits,
            # corrupting the curve key (pruning quality degrades silently)
            raise ValueError(
                f"ZORDER supports at most 4 cluster columns (16 bits each "
                f"in a 64-bit curve key); got {k}: {list(cluster_by)}")
        bounds = snap.agg(*[a for c in cluster_by
                            for a in (F.min(c).alias(f"_mn_{c}"),
                                      F.max(c).alias(f"_mx_{c}"))]
                          ).collect()[0]  # 1 row
        z = F.lit(0).cast("long")
        for idx, c in enumerate(cluster_by):
            mn, mx = int(bounds[f"_mn_{c}"]), int(bounds[f"_mx_{c}"])
            span = max(mx - mn, 1)
            norm = ((F.col(c).cast("long") - F.lit(mn))
                    * F.lit(65535) / F.lit(span)).cast("long")
            for b in range(16):
                z = z.bitwiseOR(F.shiftleft(
                    F.shiftright(norm, b).bitwiseAND(F.lit(1)),
                    b * k + idx))
        rewritten = (snap.withColumn("_z", z)
                     .repartitionByRange(target_files, "_z").drop("_z"))
    elif cluster_by:
        col = cluster_by[0] if isinstance(cluster_by, (list, tuple)) \
            else cluster_by
        rewritten = snap.repartitionByRange(target_files, col)
    else:
        rewritten = snap.coalesce(target_files)
    rel = [os.path.relpath(p, os.path.abspath(path)) for p in live]
    publish_batch(rewritten, path, next_id, fmt=fmt, removed=rel,
                  stats_cols=stats_cols)
    return next_id


def expire_manifests(path: str, keep_last: int) -> dict:
    """Snapshot expiry + orphan-file GC for the commit-manifest table —
    the retention side of the protocol (Iceberg ``expire_snapshots`` +
    ``remove_orphan_files``; Delta ``VACUUM`` + log checkpointing),
    completing the MERGE/time-travel story: a 100 TB table cannot keep
    every commit forever.

    Retains the newest ``keep_last`` commits. Because manifests are
    DELTAS (file additions + remove-action tombstones), older commits
    cannot simply be deleted — the live files they added would vanish.
    Expiry therefore COMPACTS: the net live file set as of the oldest
    retained commit is written as a checkpoint manifest under that
    commit's id (atomic ``os.replace``, so readers never see a partial
    expiry), then the older manifest JSONs are deleted. Time travel to
    any retained batch still resolves exactly as before; time travel
    past the horizon now raises the protocol's loud
    ``FileNotFoundError`` instead of answering from a silently
    incomplete log.

    The orphan sweep then deletes every data file under ``_staging``
    that no remaining manifest references — files tombstoned by merges
    inside the compacted range, and crashed batches' never-published
    staging output. Hidden bookkeeping files (``_SUCCESS``, ``.crc``)
    ride along with their directory: a staging dir with no live data
    files left is removed entirely.

    Single writer, like :func:`merge_into`. Returns
    ``{"horizon": H, "expired": [...], "orphans_removed": N}``.
    """
    import glob as _glob
    import json
    import os
    import shutil
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    mdir = os.path.join(path, "_manifests")
    chain, ckpts = _manifest_chain(path)
    metas = []
    for _bid, m in chain:  # chain manifests only — log checkpoints are
        # derived state, never part of the delta fold
        with open(m) as fh:
            metas.append(json.load(fh))
    metas.sort(key=lambda m: m["batch_id"])
    if len(metas) <= keep_last:
        return {"horizon": metas[0]["batch_id"] if metas else None,
                "expired": [], "orphans_removed": 0}
    horizon = metas[-keep_last]["batch_id"]
    pinned = {n: b for n, b in list_tags(path).items() if b < horizon}
    if pinned:
        # Iceberg's retained-ref rule: a tag keeps its snapshot's
        # history alive — expiring past it would break the tag's read
        raise RuntimeError(
            f"refusing to expire past tagged snapshots {pinned} "
            f"(horizon {horizon}); drop_tag first or raise keep_last")
    # net live set as-of the horizon, in table-relative paths (replaying
    # the same ordered delta logic read_manifest applies); per-file
    # stats AND sequence bids ride along so data skipping and the
    # equality-delete sequence rule survive compaction
    live: dict[str, dict | None] = {}
    bids: dict[str, int] = {}
    dlive: dict[str, int] = {}
    for meta in metas:
        bid = meta["batch_id"]
        if bid > horizon:
            continue
        for rm in meta.get("removed", []):
            live.pop(rm, None)
            bids.pop(rm, None)
            dlive.pop(rm, None)
        stats = meta.get("stats", {})
        for f in meta.get("files", []):
            p = os.path.join(meta["dir"], f)
            live[p] = stats.get(f)
            bids[p] = bid
        for f in meta.get("delete_files", []):
            dlive[os.path.join(meta["dir"], f)] = bid
        fp_stats = meta.get("file_stats", {})
        fp_bids = meta.get("file_bids", {})
        for p in meta.get("file_paths", []):
            live[p] = fp_stats.get(p)
            bids[p] = fp_bids.get(p, bid)
        d_bids = meta.get("delete_bids", {})
        for p in meta.get("delete_paths", []):
            dlive[p] = d_bids.get(p, bid)
    ckpt = {"batch_id": horizon, "file_paths": sorted(live),
            "file_bids": bids}
    fps = {p: st for p, st in live.items() if st is not None}
    if fps:
        ckpt["file_stats"] = fps
    if dlive:
        ckpt["delete_paths"] = sorted(dlive)
        ckpt["delete_bids"] = dlive
    tmp = os.path.join(mdir, f".batch-{horizon}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(ckpt, fh)
    os.replace(tmp, os.path.join(mdir, f"batch-{horizon}.json"))
    expired = [m["batch_id"] for m in metas if m["batch_id"] < horizon]
    for bid in expired:
        os.remove(os.path.join(mdir, f"batch-{bid}.json"))
    # log checkpoints below the horizon are now redundant with (and
    # potentially reference files GC'd by) the compacted manifest — drop
    # them; newer ones remain valid (their fold is unchanged by
    # compaction, which preserves all as-of >= horizon states)
    for cid, cpath in ckpts.items():
        if cid < horizon:
            os.remove(cpath)
    if any(cid < horizon for cid in ckpts):
        survivors = [cid for cid in ckpts if cid >= horizon]
        ptr = os.path.join(mdir, "_last_checkpoint")
        if survivors:
            tmp = ptr + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"batch_id": max(survivors)}, fh)
            os.replace(tmp, ptr)
        elif os.path.exists(ptr):
            os.remove(ptr)
    # orphan sweep: anything under _staging no remaining CHAIN manifest
    # names (surviving checkpoints' file sets are subsets of the chain's)
    referenced: set[str] = set()
    for _bid, m in _manifest_chain(path)[0]:
        with open(m) as fh:
            meta = json.load(fh)
        for f in (*meta.get("files", []), *meta.get("delete_files", [])):
            referenced.add(os.path.join(meta["dir"], f))
        referenced.update(meta.get("file_paths", []))
        referenced.update(meta.get("delete_paths", []))
    sdir = os.path.join(path, "_staging")
    n_orphans = 0
    for bdir in sorted(_glob.glob(os.path.join(sdir, "*"))):
        keep_dir = False
        for f in sorted(os.listdir(bdir)):
            if f.startswith(("_", ".")):
                continue
            ap = os.path.join(bdir, f)
            rel = os.path.relpath(ap, path)
            # legacy manifests may reference absolute paths — honor both
            if rel in referenced or ap in referenced:
                keep_dir = True
            else:
                os.remove(ap)
                n_orphans += 1
        if not keep_dir:
            shutil.rmtree(bdir)
    return {"horizon": horizon, "expired": expired,
            "orphans_removed": n_orphans}


# Longest an availableNow drain may run before it counts as hung.
AVAILABLE_NOW_TIMEOUT_S = 600


def run_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Process everything currently available, then stop — the deterministic
    trigger every test uses (never wall-clock ProcessingTime). Returns the
    terminated query; a query still running after
    :data:`AVAILABLE_NOW_TIMEOUT_S` is stopped and raises ``TimeoutError``,
    so no caller ever reads a partial result."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(AVAILABLE_NOW_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"availableNow query {q.name or q.id} did not finish in "
            f"{AVAILABLE_NOW_TIMEOUT_S} s; its output would be partial")
    return q


def set_partition_spec(path: str, cluster_by: list[str],
                       stats_cols: list[str] | None = None,
                       bloom_cols: list[str] | None = None) -> int:
    """PARTITION-SPEC EVOLUTION on the commit-manifest table (Iceberg
    ``ALTER TABLE ... ADD/REPLACE PARTITION FIELD``, r12 VERDICT
    optional-breadth): change how FUTURE commits are laid out —
    clustering columns, recorded stats, bloom columns — without
    touching a single existing file or manifest. The new spec lands
    atomically as ``_manifests/spec.<id>.json``; history is never
    rewritten, so time travel and existing stats keep working, and
    reads simply plan heterogeneously: files written under an old spec
    lack the new spec's stats and are always read (the superset
    contract), files under the new spec prune hard — exactly Iceberg's
    behavior when a query filters on a partition dimension the old spec
    didn't have. Returns the new spec id (0-based, monotonic)."""
    import glob as _glob
    import json
    import os
    import re as _re
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    ids = [int(g.group(1))
           for m in _glob.glob(os.path.join(mdir, "spec.*.json"))
           if (g := _re.search(r"spec\.(\d+)\.json$", m))]
    spec_id = max(ids) + 1 if ids else 0
    spec = {"spec_id": spec_id, "cluster_by": list(cluster_by),
            "stats_cols": list(stats_cols or cluster_by),
            "bloom_cols": list(bloom_cols or [])}
    tmp = os.path.join(mdir, f".spec.{spec_id}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(spec, fh)
    os.replace(tmp, os.path.join(mdir, f"spec.{spec_id}.json"))
    return spec_id


def current_partition_spec(path: str) -> dict | None:
    """The table's active partition spec (highest spec id), or None if
    the table has never declared one (pre-evolution tables keep their
    caller-driven layout)."""
    import glob as _glob
    import json
    import os
    import re as _re
    mdir = os.path.join(path, "_manifests")
    specs = {int(g.group(1)): m
             for m in _glob.glob(os.path.join(mdir, "spec.*.json"))
             if (g := _re.search(r"spec\.(\d+)\.json$", m))}
    if not specs:
        return None
    with open(specs[max(specs)]) as fh:
        return json.load(fh)


def append_with_spec(spark, path: str, df: DataFrame,
                     batch_id: int | None = None,
                     fmt: str = "parquet", target_files: int = 8) -> int:
    """Append a commit laid out by the table's ACTIVE partition spec:
    range-cluster on the spec's ``cluster_by`` (so the spec's stats
    prune effectively — stats without clustering are dead weight), and
    record the spec's stats/bloom columns in the manifest, stamping the
    manifest with ``spec_id`` for audit. With no declared spec this is
    a plain :func:`publish_batch`. ``batch_id=None`` allocates the next
    commit id (single writer, like :func:`merge_into`). Returns the
    commit's batch id."""
    if batch_id is None:
        chain, _ = _manifest_chain(path)
        batch_id = chain[-1][0] + 1 if chain else 0
    spec = current_partition_spec(path)
    if spec is None:
        publish_batch(df, path, batch_id, fmt=fmt)
        return batch_id
    clustered = df.repartitionByRange(target_files,
                                      *spec["cluster_by"])
    publish_batch(clustered, path, batch_id, fmt=fmt,
                  stats_cols=spec["stats_cols"] or None,
                  bloom_cols=spec["bloom_cols"] or None)
    # stamp the manifest with the spec that produced it (audit trail —
    # read planning never needs it, stats are self-describing per file)
    import json
    import os
    mpath = os.path.join(path, "_manifests", f"batch-{batch_id}.json")
    with open(mpath) as fh:
        meta = json.load(fh)
    meta["spec_id"] = spec["spec_id"]
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, mpath)
    return batch_id


def read_changes(spark, path: str, from_batch: int, to_batch: int,
                 fmt: str = "parquet") -> DataFrame:
    """CHANGE DATA FEED between two committed versions (Delta CDF /
    Iceberg incremental read), FILE-DIFF bounded: the row-level changes
    from snapshot ``from_batch`` to snapshot ``to_batch`` are computed
    by reading ONLY the files that entered or left the live set between
    the two versions — cost scales with the touched slice the commits
    rewrote, never the table. Rows gain a ``_change_type`` column:
    ``insert`` (present after, not before — fresh inserts and update
    post-images) and ``delete`` (present before, not after — deletions
    and update pre-images); an update therefore appears as its
    delete+insert pair, the minimal CDF vocabulary.

    Copy-on-write correctness: a MERGE rewrites whole files, copying
    surviving rows into new files — those rows appear in both the
    entered and left file sets and cancel via ``exceptAll`` (multiset
    semantics, so duplicate rows keep correct multiplicity). The same
    cancellation makes a pure OPTIMIZE/rewrite produce an EMPTY feed:
    physically everything moved, logically nothing changed."""
    from pyspark.sql import functions as F
    da, dla = _fold_state(path, as_of_batch=from_batch)
    db, dlb = _fold_state(path, as_of_batch=to_batch)
    if not da and not db:
        raise FileNotFoundError(
            f"no committed manifests under {path} at either version")
    if dla or dlb:
        # live equality deletes at either version: the file-diff
        # shortcut would read raw files and surface already-dead rows
        # as phantom changes — fall back to the exact diff of the two
        # merge-on-read snapshots (table-bounded; deletes are pending
        # only until the next OPTIMIZE materializes them)
        a = read_manifest(spark, path, fmt=fmt, as_of_batch=from_batch)
        b = read_manifest(spark, path, fmt=fmt, as_of_batch=to_batch)
        return (b.exceptAll(a).withColumn("_change_type",
                                          F.lit("insert"))
                .unionByName(a.exceptAll(b).withColumn("_change_type",
                                                       F.lit("delete"))))
    entered = [p for p in db if p not in da]
    left = [p for p in da if p not in db]
    any_file = next(iter(db or da))
    schema = spark.read.format(fmt).load(any_file).schema
    empty = spark.createDataFrame([], schema)
    adds = spark.read.format(fmt).load(entered) if entered else empty
    dels = spark.read.format(fmt).load(left) if left else empty
    inserts = adds.exceptAll(dels).withColumn("_change_type",
                                              F.lit("insert"))
    deletes = dels.exceptAll(adds).withColumn("_change_type",
                                              F.lit("delete"))
    return inserts.unionByName(deletes)


def spec_manifest_sink(df: DataFrame, path: str, checkpoint: str,
                       fmt: str = "parquet",
                       target_files: int = 8) -> DataStreamWriter:
    """:func:`manifest_file_sink` honoring the table's DECLARED
    partition spec (r13): each micro-batch commits through
    :func:`append_with_spec`, so streaming ingest lands range-clustered
    with the spec's stats/bloom recorded — the table is immediately
    prunable and OPTIMIZE-free for the spec dimensions, which is how
    Delta/Iceberg streaming writers keep file skipping effective
    without nightly rewrites. Spec evolution applies mid-stream: the
    next micro-batch after :func:`set_partition_spec` commits under the
    new layout (heterogeneous planning reads both generations). Same
    exactly-once-visibility and replay-idempotence contract as the
    plain manifest sink; append mode only."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_with_spec(batch_df.sparkSession, path, batch_df,
                         batch_id, fmt=fmt, target_files=target_files)

    return (df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def create_tag(path: str, name: str, batch_id: int | None = None) -> int:
    """Named snapshot ref (Iceberg tags / Delta named versions, r13):
    pin ``name`` to commit ``batch_id`` (default: newest) as
    ``_manifests/ref.<name>.json``, atomically. Tags are read-side
    sugar (``read_manifest(..., ref=name)``) AND a retention contract:
    :func:`expire_manifests` refuses to expire history a tag still
    pins, exactly Iceberg's retained-ref rule — dropping the tag
    (:func:`drop_tag`) releases it. Returns the pinned batch id."""
    import json
    import os
    import re as _re
    if not _re.fullmatch(r"[A-Za-z0-9._-]+", name):
        raise ValueError(f"invalid tag name {name!r}")
    chain, _ = _manifest_chain(path)
    if batch_id is None:
        if not chain:
            raise FileNotFoundError(f"no committed manifests under {path}")
        batch_id = chain[-1][0]
    elif not any(b == batch_id for b, _m in chain):
        raise ValueError(f"no commit batch-{batch_id} under {path}")
    mdir = os.path.join(path, "_manifests")
    tmp = os.path.join(mdir, f".ref.{name}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"name": name, "batch_id": batch_id}, fh)
    os.replace(tmp, os.path.join(mdir, f"ref.{name}.json"))
    return batch_id


def resolve_tag(path: str, name: str) -> int:
    """The batch id a tag pins (loud KeyError if the tag is absent)."""
    import json
    import os
    p = os.path.join(path, "_manifests", f"ref.{name}.json")
    if not os.path.exists(p):
        raise KeyError(f"no tag {name!r} under {path}")
    with open(p) as fh:
        return json.load(fh)["batch_id"]


def drop_tag(path: str, name: str) -> None:
    """Release a tag (its history becomes expirable again)."""
    import os
    os.remove(os.path.join(path, "_manifests", f"ref.{name}.json"))


def list_tags(path: str) -> dict:
    """{tag name: pinned batch id} for the table."""
    import glob as _glob
    import json
    import os
    import re as _re
    out = {}
    for p in _glob.glob(os.path.join(path, "_manifests", "ref.*.json")):
        g = _re.search(r"ref\.(.+)\.json$", p)
        with open(p) as fh:
            out[g.group(1)] = json.load(fh)["batch_id"]
    return out
