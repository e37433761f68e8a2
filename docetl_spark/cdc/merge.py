"""The merge-apply stage: one CDC microbatch -> one lake-table snapshot.

Semantics (north rule): key-partitioned MERGE upsert keyed on the table's
merge key, last-writer-wins per event LSN, delete support, idempotent
batch-id fencing (exactly-once), in-flight additive + widening schema
evolution, per-batch lineage metrics.

Scale design notes
------------------
* **Wide rows never shuffle.** Payload columns (e.g. repo file ``content``)
  are heavy; shuffling them dominates everything at scale. The batch LWW is
  therefore two-phase: (1) a *narrow* ``groupBy(key).agg(max(lsn))`` over
  a column-pruned scan (parquet reads only key + lsn bytes), which gets
  map-side partial combine and collapses hot keys before its (tiny)
  shuffle; (2) a broadcast join-back of the winning ``(key, lsn)`` set
  against the batch, so winning payload rows stream out of the scan
  without a shuffle. The single-phase wide ``max(struct(...))`` variant
  (``dedup_last_writer``) measured 2-3x slower and anti-scaled with
  parallelism: with K keys spread over P partitions the partial aggregate
  combines almost nothing as P grows, while shuffling full payloads.
* **The table state never shuffles either.** Current rows of affected
  buckets are read once; survivors (keys untouched by the batch) are kept
  via a broadcast LEFT ANTI join — a map-side filter — and written back in
  their incoming file-aligned partitioning. Only the batch winners (new
  row versions) are hash-repartitioned to their target buckets. A batch
  upserting B keys into a T-row table moves O(B) wide rows, not O(T).
* **Copy-on-write touches only affected buckets.** Keys hash into
  ``num_buckets`` buckets via xxhash64 over the full composite key; the
  merge reads + rewrites ONLY buckets the batch keys land in. A batch
  touching 1% of key space reads+rewrites ~1% of the table.
* **Broadcast is gated, AQE backstops.** The winning keyset is broadcast
  only below ``broadcast_key_limit`` keys; above it the joins fall back to
  AQE-planned shuffle joins (with skew-split enabled in the session).

One pipeline
------------
Every merge commit runs the same two private steps:

* ``_prepare(snapshot) -> PreparedMerge`` — fence check, stages, the
  ``_bucket`` guard, schema evolution, the phase-1 stats job (or a valid
  ``PrecomputedStats``), winner derivation (insert-only fast path,
  single-phase struct-max above the broadcast limit, broadcast join-back
  + tie dedup; the fused small-state CoW merge runs the struct-max over
  current ∪ batch), the changelog sidecar and the bucket-file write.
  Nothing is published.
* ``_publish(prepared, expected_version)`` — fence + delta properties, the
  commit summary, replaced buckets, and the CommitConflict -> "fence
  already past, so skip" check.

``merge_apply`` is prepare against the live snapshot, then publish pinned
to its version (CAS-retried ``conflict_retries`` times). MOR pipelining
(``replay_events``) is the same prepare run ahead against an ASSUMED
snapshot (``prepare_mor_merge``) and a publish that re-validates the
assumptions first (``commit_prepared_merge``).

The reference's analogue is in-memory ``{**item, **output}`` row merging
(docetl/operations/map.py:414) plus JSON checkpoints
(docetl/runner.py:546-663); here both become transactional table commits.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from dataclasses import dataclass, field, asdict
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.lake.table import CommitConflict, LakeTable, Snapshot
from docetl_spark.schema import SchemaError, merge_schemas

FENCE_PROP = "cdc.last-batch-id"
DELTA_PROP = "cdc.has-deltas"  # true -> MOR deltas present, reads must LWW-dedup
CONTROL_COLS = ("lsn", "batch_id", "op")
DELETED_COL = "_deleted"  # tombstone flag: deletes keep (key, lsn) so a
# late-arriving event with a smaller LSN cannot resurrect a deleted row.

TransformStage = Callable[[DataFrame], DataFrame]

# -- size gates (guide §2: partitioning must derive from input size, not
# a constant tuned for one deployment) ------------------------------------

# CoW merges whose affected buckets hold at most this many bytes shuffle
# the (small) survivors together with the winners so every rewritten
# bucket lands in exactly ONE file. Without it, file-aligned survivor
# writes fragment each bucket by ~one file per batch, and the per-merge
# driver cost (file listing, footer stats, scan planning) grows linearly
# with batch count — measured 435 ms/merge of pure driver plan-building at
# 48 files vs ~150 ms at 16. Above the threshold the wide-row rule wins
# (survivors never shuffle; periodic compaction owns file counts).
COW_CONSOLIDATE_BYTES = 256 << 20

# Batches at or below this many events are persisted for the merge's
# duration: the batch plan is read 2-3x (winning-key aggregate, winner
# join-back) and for small batches a one-shot cache is cheaper than
# re-running the scan+filter lineage each time. Large batches stream
# (caching 10^9 rows trades a cheap rescan for executor memory/disk
# pressure — the wrong trade, so the gate is 4M events). CoW-only:
# persisting the bench's 1M-event MOR batches measured a 2.2x replay
# REGRESSION (338 s vs 153 s at 20M events) — memory-store
# materialization under 32 concurrent tasks costs far more than the
# pruned binlog re-scan it saves.
BATCH_PERSIST_ROWS = 4_000_000


def reject_reserved_columns(df: DataFrame, caller: str,
                            reserved: tuple = ("lsn", "op")) -> None:
    """Fail loudly when a payload frame carries columns an ingest face
    synthesizes itself. The ingest wrappers (``dedup_ingest``,
    ``ivf_ingest``) prepend their own ``lsn``/``op``; a batch that already
    has them (e.g. vectors re-read from another CDC table via
    ``read_state``, which returns ``lsn``) would otherwise produce
    duplicate column names and fail deep inside the merge with
    AMBIGUOUS_REFERENCE — or, worse, silently resolve to the wrong one.
    Case-insensitive (ADVICE r5): Spark resolves columns with
    ``spark.sql.caseSensitive=false`` by default, so a batch carrying
    ``LSN`` hits exactly the ambiguity this guard exists to prevent."""
    lowered = {c.lower() for c in reserved}
    clash = sorted({c for c in df.columns if c.lower() in lowered})
    if clash:
        raise ValueError(
            f"{caller}: batch carries reserved column(s) {clash}; this ingest "
            "synthesizes them itself — drop or rename them upstream "
            f"(e.g. .drop({', '.join(repr(c) for c in clash)}))"
        )


@dataclass
class MergeMetrics:
    """Per-batch lineage record (north rule: offsets, row counts, merge stats)."""

    batch_id: int
    skipped: bool = False
    events_in: int = 0
    keys_in_batch: int = 0
    upserts: int = 0
    deletes: int = 0
    buckets_touched: int = 0
    min_lsn: int | None = None
    max_lsn: int | None = None
    snapshot_version: int | None = None
    duration_sec: float = 0.0
    stats_sec: float = 0.0  # winning-key aggregate + lineage stats job
    write_sec: float = 0.0  # join-back + survivors + bucket-file write job
    bucket_rows: dict[str, int] = field(default_factory=dict)

    def to_dict(self) -> dict:
        return asdict(self)


def _unsupported_upcast_paths(old: T.DataType, new: T.DataType, path: str = "") -> list[str]:
    """Column paths whose widening the parquet VECTORIZED READER cannot
    apply at read time. Probed on this Spark build: INT32->INT64,
    INT32->double and FLOAT->double (top-level AND nested in
    array/struct) upcast fine; **INT64->double does not** — reading an
    old long-typed file through a double-evolved schema throws
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Such widenings need a one-time
    file rewrite (``_widen_rewrite``); everything else stays
    metadata-only."""
    if isinstance(old, T.LongType) and isinstance(new, T.DoubleType):
        return [path or "<root>"]
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return _unsupported_upcast_paths(old.elementType, new.elementType, f"{path}[]")
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        out: list[str] = []
        newf = {f.name: f for f in new.fields}
        for f in old.fields:
            if f.name in newf:
                out += _unsupported_upcast_paths(f.dataType, newf[f.name].dataType,
                                                 f"{path}.{f.name}" if path else f.name)
        return out
    return []


def _widen_rewrite(spark: SparkSession, table, snap, evolved: T.StructType):
    """One-time column-widening rewrite (the Delta/Iceberg shape for
    non-reader-supported type changes): read every live file under the
    OLD (file-accurate) schema, cast to the evolved schema in-plan, and
    rewrite all buckets in one atomic commit — file-aligned
    (repartition=False), so nothing shuffles; O(table) once per widening
    event, like ``rebucket``. Afterwards every live file carries the
    evolved types, restoring the invariant that the current snapshot
    schema reads every file (which metadata-only evolution relies on).
    Carries MOR deltas/tombstones verbatim (rows are cast, never
    collapsed). No fence change: a crash after this commit leaves a
    correct, merely-rewritten table."""
    import uuid as _uuid

    df = _align(table.read(spark), evolved)
    new_spec = Snapshot(**{**snap.__dict__, "schema": evolved})
    df = df.withColumn("_bucket", table.bucket_expr(new_spec))
    tag = f"widen{snap.version + 1:08d}-{_uuid.uuid4().hex[:8]}"
    new_files = table.write_bucket_files(df, new_spec, tag, repartition=False)
    return table.commit(
        new_files,
        replaced_buckets=set(snap.files),
        schema=evolved,
        summary={"operation": "widen-rewrite"},
        expected_version=snap.version,
    )


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns become typed nulls,
    shared columns cast to the (possibly widened) target type."""
    have = set(df.columns)
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def dedup_last_writer(
    batch: DataFrame, key_cols: list[str], order_col: str = "lsn", count_col: str | None = None
) -> DataFrame:
    """Collapse a batch to one winning event per key: max ``order_col`` wins.

    Implemented as a struct-max aggregate under ``groupBy(key)`` rather than
    a row_number window: the aggregate gets map-side partial combine
    (skew-safe) and ties on lsn break deterministically by the struct
    comparison. Mirrors LWW-by-LSN from the north rule. If ``count_col`` is
    given, a per-key pre-dedup event count rides along (same shuffle, free).
    """
    payload = [c for c in batch.columns if c not in key_cols]
    packed = F.struct(F.col(order_col), *[F.col(c) for c in payload if c != order_col])
    aggs = [F.max(packed).alias("_w")]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    won = batch.groupBy(*key_cols).agg(*aggs)
    out_cols = [F.col(k) for k in key_cols] + [
        F.col(f"_w.{c}").alias(c) for c in [order_col] + [c for c in payload if c != order_col]
    ]
    if count_col:
        out_cols.append(F.col(count_col))
    return won.select(*out_cols)


@dataclass
class PrecomputedStats:
    """Phase-1 per-bucket stats computed AHEAD of the merge (see
    ``replay_events`` pipelining): the stats job reads only the batch —
    never table state — so it can run concurrently with the previous
    batch's write job. The fingerprint pins the bucket function the rows
    were computed under; a mismatch (rebucket / key evolution between
    batches) makes the merge recompute inline instead."""

    batch_id: int
    key_cols: tuple
    num_buckets: int
    rows: list


def compute_batch_stats(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    stages: Iterable[TransformStage] = (),
) -> PrecomputedStats:
    """Run the phase-1 winning-key/per-bucket stats job for ``batch``
    against the CURRENT snapshot's bucket function. Pure batch-side: safe
    to run while an earlier batch is still committing."""
    snap = table.snapshot()
    for stage in stages:
        batch = stage(batch)
    wk = _winning_keys(batch, snap.key_cols)
    rows = _per_bucket_stats(wk, table, snap).collect()
    return PrecomputedStats(
        batch_id=batch_id, key_cols=tuple(snap.key_cols),
        num_buckets=snap.num_buckets, rows=rows,
    )


def _winning_keys(batch: DataFrame, key_cols: list[str]) -> DataFrame:
    return batch.groupBy(*key_cols).agg(
        F.max("lsn").alias("lsn"),
        F.count(F.lit(1)).alias("_events"),
        F.count_distinct("lsn").alias("_nlsn"),
        F.max_by("op", "lsn").alias("_op"),
    )


def _per_bucket_stats(wk: DataFrame, table: LakeTable, snap: Snapshot) -> DataFrame:
    return (
        wk.withColumn("_bucket", table.bucket_expr(snap))
        .groupBy("_bucket")
        .agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum("_events").alias("events"),
            F.sum((F.col("_op") == "D").cast("long")).alias("dels"),
            F.sum((F.col("_events") != F.col("_nlsn")).cast("long")).alias("dup_lsn_keys"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
    )


@dataclass
class PreparedMerge:
    """A merge whose data files are fully written but whose snapshot is not
    yet published: the hand-off from ``_prepare`` to ``_publish``. Carries
    the assumption set the files were written under (schema, bucket spec,
    the snapshot version they were planned against). A prepare that is
    never published leaves its files unreferenced — vacuum reclaims them,
    exactly like a losing concurrent-commit attempt."""

    batch_id: int
    new_files: dict
    metrics: MergeMetrics
    evolved: T.StructType
    num_buckets: int
    bucket_cols: tuple | None
    key_cols: tuple
    mode: str
    base_version: int
    replaced: frozenset = frozenset()
    changelog: list[str] | None = None


def _fence(snap: Snapshot, fence_prop: str) -> int:
    return int(snap.properties.get(fence_prop, "-1"))


def _bucket_cols(snap: Snapshot) -> tuple | None:
    return tuple(snap.bucket_cols) if snap.bucket_cols else None


def _prepare(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    snap: Snapshot,
    *,
    stages: Iterable[TransformStage],
    winner_stages: Iterable[TransformStage],
    broadcast_key_limit: int,
    strict_lww_ties: bool,
    fence_prop: str,
    mode: str,
    precomputed: PrecomputedStats | None = None,
    changelog: bool = False,
    speculative: bool = False,
) -> PreparedMerge | None:
    """Everything of one merge up to (not including) its commit, planned
    against ``snap``: fence check, stages, schema evolution, the stats job,
    winner derivation, the changelog sidecar and the bucket-file write.

    Returns None when ``snap``'s fence is already at or past ``batch_id``.
    A ``speculative`` prepare (against an assumed snapshot, commit
    deferred) also returns None when the batch evolves the schema:
    evolution may rewrite live files (``_widen_rewrite``) and rewrites the
    assumptions of every later in-flight prepare, so only the serial path
    owns it. Speculative files are named by batch id, since the version
    they will commit as is not known yet."""
    t0 = time.time()
    if batch_id <= _fence(snap, fence_prop):
        return None  # already committed: idempotent replay no-op

    for stage in stages:
        batch = stage(batch)
    winner_stages = tuple(winner_stages)

    def _winner_staged(df: DataFrame) -> DataFrame:
        for stage in winner_stages:
            df = stage(df)
        return df

    # schema evolution must account for winner-stage output columns too:
    # probe them against an empty frame (no data moves, plan-only)
    staged_empty = _winner_staged(batch.limit(0))
    if any(c.lower() == "_bucket" for c in staged_empty.columns):
        # the write path overwrites _bucket with the hash-bucket id and the
        # partitioned write then strips it — a data column named _bucket
        # would be silently destroyed, so refuse it loudly
        raise SchemaError(
            "'_bucket' is a reserved lake column (the merge overwrites it "
            "with the hash-bucket id); rename it upstream"
        )
    # -- in-flight schema evolution -------------------------------------
    payload_fields = [f for f in staged_empty.schema.fields if f.name not in CONTROL_COLS]
    incoming = T.StructType(
        payload_fields
        + [T.StructField("lsn", T.LongType(), True), T.StructField(DELETED_COL, T.BooleanType(), True)]
    )
    evolved = merge_schemas(snap.schema, incoming)
    if speculative and evolved != snap.schema:
        return None
    if snap.all_files and _unsupported_upcast_paths(snap.schema, evolved):
        # widening beyond what the parquet reader upcasts (long->double):
        # rewrite live files under the evolved schema first, then merge
        # against the fresh snapshot
        snap = _widen_rewrite(spark, table, snap, evolved)
    spec = Snapshot(**{**snap.__dict__, "schema": evolved})
    key_cols = snap.key_cols
    is_mor = mode == "mor"

    # -- Phase 1: narrow winning-key aggregate. Only (key, lsn, op) leave
    # the scan (parquet column pruning), partial combine collapses hot
    # keys map-side, and the shuffle carries no payload bytes. Kept lazy:
    # the stats job pipelines through it without materializing the keyset;
    # it is persisted below ONLY if the merge actually reuses it (current
    # state exists), since on an initial load pinning millions of winner
    # keys in the memory store is pure churn.
    wk = _winning_keys(batch, key_cols)
    # One collect serves both lineage stats and the affected-bucket list:
    # per-bucket partials (<= num_buckets rows) combined driver side. A
    # valid PrecomputedStats (same bucket function, same batch — see
    # replay_events' look-ahead) skips the collect entirely: its job
    # already ran overlapped with the previous batch's write.
    if (
        precomputed is not None
        and precomputed.batch_id == batch_id
        and precomputed.key_cols == tuple(key_cols)
        and precomputed.num_buckets == snap.num_buckets
    ):
        per_bucket = precomputed.rows
    else:
        per_bucket = _per_bucket_stats(wk, table, spec).collect()
    bucket_counts = {r["_bucket"]: r["keys"] for r in per_bucket}
    n_keys = sum(bucket_counts.values())
    n_del = int(sum(r["dels"] for r in per_bucket))
    # keys with a repeated LSN inside this batch: the (key, lsn) join-back
    # would keep BOTH tying rows, silently writing duplicate key versions.
    # Detected for free in the same stats collect.
    has_lsn_ties = int(sum(r["dup_lsn_keys"] for r in per_bucket)) > 0

    metrics = MergeMetrics(
        batch_id=batch_id,
        events_in=int(sum(r["events"] for r in per_bucket)),
        keys_in_batch=n_keys,
        upserts=n_keys - n_del,
        deletes=n_del,
        min_lsn=min((r["min_lsn"] for r in per_bucket), default=None),
        max_lsn=max((r["max_lsn"] for r in per_bucket), default=None),
        stats_sec=time.time() - t0,
    )
    prep = PreparedMerge(
        batch_id=batch_id, new_files={}, metrics=metrics, evolved=evolved,
        num_buckets=snap.num_buckets, bucket_cols=_bucket_cols(snap),
        key_cols=tuple(key_cols), mode=mode, base_version=snap.version,
    )
    if n_keys == 0:
        metrics.duration_sec = time.time() - t0
        return prep  # nothing to merge: a fence-advance-only commit

    affected = sorted(bucket_counts)
    bcast = (lambda df: F.broadcast(df)) if n_keys <= broadcast_key_limit else (lambda df: df)
    # Affected buckets with no current files (fresh table / untouched key
    # space) need none of the current-vs-batch machinery — and the
    # broadcast builds it would trigger are pure waste on initial load.
    # MOR never reads current state: read-time LWW resolves it.
    has_current = (not is_mor) and any(snap.files.get(b) for b in affected)
    # Small-state byte gate (see COW_CONSOLIDATE_BYTES), over the sizes
    # recorded at commit: decides both the consolidating write below and
    # the fused small-merge path. A file with no recorded size (written
    # before sizes were recorded) counts as over the gate.
    sizes = [snap.file_bytes.get(f) for b in affected for f in snap.files.get(b, [])]
    consolidate = has_current and None not in sizes and sum(sizes) <= COW_CONSOLIDATE_BYTES

    # -- Fused small-merge fast path. The two-phase shape exists so wide
    # rows never shuffle, but it costs three broadcast builds and two
    # batch passes per commit — pure serial floor when the affected state
    # is a few MB. Below the byte gate the whole LWW collapses into ONE
    # aggregate over (current ∪ batch): max of struct(lsn, is_current,
    # payload) per key. Tie semantics are IDENTICAL to the two-phase path:
    # an equal-LSN tie between batch and stored row keeps the stored row
    # (is_current=1 outranks 0 — the cur_lsn >= new_lsn rule), and batches
    # carrying internal duplicate-LSN keys (detected free in phase 1) take
    # the two-phase path so the struct-max payload tiebreak stays
    # byte-for-byte the documented one. Gated off for changelog commits
    # (they need the winners frame as a sidecar) and winner_stages
    # (enrichment must see winning batch rows only).
    fused = (
        consolidate
        and not changelog
        and not winner_stages
        and not (strict_lww_ties or has_lsn_ties)
    )
    persisted = []
    try:
        survivors = None
        if fused:
            payload = [c for c in evolved.fieldNames() if c not in key_cols and c != "lsn"]
            current = _align(table.read_buckets(spark, affected, snap), evolved)
            rows = _align(batch.withColumn(DELETED_COL, F.col("op") == F.lit("D")), evolved)
            union = (
                current.withColumn("_is_cur", F.lit(1))
                .unionByName(rows.withColumn("_is_cur", F.lit(0)))
                .select(*key_cols, "lsn", "_is_cur", *payload)
            )
            winners = dedup_last_writer(union, key_cols)
        else:
            # Small CoW batches are re-read by the winning-key aggregate
            # and the winner join-back: cache them once instead of
            # re-running the batch lineage per pass (see
            # BATCH_PERSIST_ROWS; CoW-only).
            if has_current and metrics.events_in <= BATCH_PERSIST_ROWS:
                batch = batch.persist()
                persisted.append(batch)
            won = wk.select(*key_cols, "lsn")
            cur_beats = None
            if has_current:
                wk = wk.persist()
                persisted.append(wk)
                current = _align(table.read_buckets(spark, affected, snap), evolved)
                # -- LWW vs current state: a key's batch version only
                # applies if its LSN beats the stored LSN (ties keep the
                # stored row, so an already-applied writer is never
                # re-applied). Out-of-order and late batches are therefore
                # safe. Column pruning makes this a (key, lsn)-only scan of
                # the affected buckets; the broadcast join means the bucket
                # data itself never shuffles.
                cur_beats = (
                    current.select(*key_cols, F.col("lsn").alias("_cur_lsn"))
                    .join(bcast(wk.select(*key_cols, F.col("lsn").alias("_new_lsn"))), key_cols, "inner")
                    .filter(F.col("_cur_lsn") >= F.col("_new_lsn"))
                    .select(*key_cols)
                )
                won = wk.join(cur_beats, key_cols, "left_anti").select(*key_cols, "lsn").persist()
                persisted.append(won)
                # -- survivors: current rows whose key the batch did not
                # win. Broadcast LEFT ANTI = map-side filter; file-aligned
                # partitions are kept on write (repartition=False) so the
                # table state is never shuffled. Only the winner set
                # repartitions to its target buckets.
                survivors = current.join(bcast(won.select(*key_cols)), key_cols, "left_anti")
            # -- Phase 2: winning payload rows. Insert-heavy fast path:
            # when every key appears once (initial load / insert-only
            # stream), the batch IS the winner set minus keys the stored
            # state beats — no join-back at all. Otherwise broadcast
            # join-back: winners stream straight from the batch scan, no
            # wide shuffle.
            if n_keys == metrics.events_in:
                winners = batch if cur_beats is None else batch.join(bcast(cur_beats), key_cols, "left_anti")
            elif is_mor and n_keys > broadcast_key_limit:
                # Winner set too large to broadcast: the (key, lsn)
                # join-back degenerates to a sort-merge join that shuffles
                # the FULL batch payload anyway — on top of the narrow
                # aggregate's own shuffle and both sort passes. One
                # struct-max aggregate moves the payload once (with
                # map-side partial combine) and its result IS the
                # documented duplicate-LSN tiebreak, so the tie path needs
                # no separate handling. (The two-phase shape stays the
                # design for the broadcastable common case — there the
                # payload never shuffles at all.)
                winners = dedup_last_writer(batch, key_cols)
            else:
                winners = batch.join(bcast(won), [*key_cols, "lsn"], "inner")
                if strict_lww_ties or has_lsn_ties:
                    winners = dedup_last_writer(winners, key_cols)
            winners = _winner_staged(winners).withColumn(DELETED_COL, F.col("op") == F.lit("D"))
        winners = _align(winners, evolved)

        # Change-data-feed sidecar (CoW only): persist the winners ONCE,
        # then read them back as the source for the bucket write below —
        # the winner plan executes a single time, and the sidecar paths
        # ride the commit summary so read_changes can serve row-level
        # changes from this rewrite commit. Orphaned sidecars (a losing
        # commit race) are unreferenced and reclaimed by vacuum.
        if changelog and not is_mor:
            chdir = os.path.join(table.data_dir, f"chlog{snap.version + 1:08d}-{uuid.uuid4().hex[:8]}")
            winners.write.parquet(chdir)
            prep.changelog = sorted(
                os.path.relpath(p, table.path)
                for p in glob.glob(os.path.join(chdir, "*.parquet"))
            )
            if prep.changelog:
                winners = spark.read.schema(evolved).parquet(
                    *[os.path.join(table.path, f) for f in prep.changelog]
                )

        # One write job. Default shape: the survivors branch (if any)
        # streams file-aligned (no shuffle), only the winners branch
        # repartitions. Small-state exception: file-aligned survivor
        # writes emit one file per (scan task, bucket), so each CoW batch
        # fragments its buckets further and every later merge pays the
        # growing file count in driver plan-building, footer stats and
        # scan setup. When the affected buckets hold only a few MB, a
        # shuffle of those bytes is far cheaper than the fragmentation —
        # so below the byte gate survivors ride the winners' exchange and
        # every rewritten bucket compacts to ONE file per commit. Above
        # it, the wide-row rule stands: table state never shuffles.
        bexpr = table.bucket_expr(spec)
        if consolidate and survivors is not None:
            combined = (
                survivors.unionByName(winners)
                .withColumn("_bucket", bexpr)
                .repartition("_bucket")
            )
        else:
            combined = winners.withColumn("_bucket", bexpr).repartition("_bucket")
            if survivors is not None:
                combined = survivors.withColumn("_bucket", bexpr).unionByName(combined)
        name = f"mor{batch_id:08d}" if speculative else f"snap{snap.version + 1:08d}"
        t_w = time.time()
        prep.new_files = table.write_bucket_files(
            combined, spec, f"{name}-{uuid.uuid4().hex[:8]}", repartition=False
        )
        metrics.write_sec = time.time() - t_w
    finally:
        for df in persisted:
            df.unpersist()
    prep.replaced = frozenset() if is_mor else frozenset(affected)
    metrics.buckets_touched = len(affected)
    metrics.bucket_rows = {str(b): int(c) for b, c in bucket_counts.items()}
    metrics.duration_sec = time.time() - t0
    return prep


def _publish(table: LakeTable, prep: PreparedMerge, expected_version: int, fence_prop: str) -> MergeMetrics:
    """Commit a prepared merge as the snapshot after ``expected_version``:
    fence and delta flag, the summary (the only place one is built, so
    every merge commit — fence-only ones included — records the same
    keys), replaced buckets. On CommitConflict: if the winning writer
    applied THIS batch (duplicate delivery racing us), the fence makes our
    work a no-op and the merge reports a skip — exactly-once holds.
    Anything else re-raises for the caller to retry against fresh state
    (our files stay orphaned until vacuum; they were never referenced)."""
    t0 = time.time()
    props = {fence_prop: str(prep.batch_id)}
    if prep.mode == "mor" and prep.new_files:
        props[DELTA_PROP] = "true"
    summary = {"operation": "merge", "mode": prep.mode, **prep.metrics.to_dict()}
    if prep.changelog is not None:
        summary["changelog"] = prep.changelog
    try:
        new_snap = table.commit(
            prep.new_files,
            replaced_buckets=prep.replaced,
            schema=prep.evolved,
            properties=props,
            summary=summary,
            expected_version=expected_version,
        )
    except CommitConflict:
        cur = table.snapshot()
        if _fence(cur, fence_prop) >= prep.batch_id:
            return MergeMetrics(batch_id=prep.batch_id, skipped=True, snapshot_version=cur.version)
        raise
    prep.metrics.snapshot_version = new_snap.version
    prep.metrics.duration_sec += time.time() - t0
    return prep.metrics


def prepare_mor_merge(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    assumed: Snapshot,
    stages: Iterable[TransformStage] = (),
    winner_stages: Iterable[TransformStage] = (),
    broadcast_key_limit: int = 500_000,
    strict_lww_ties: bool = False,
    fence_prop: str = FENCE_PROP,
) -> PreparedMerge | None:
    """``_prepare`` of a MOR merge against an ASSUMED snapshot, the commit
    deferred to ``commit_prepared_merge`` (guide §2.6: consecutive MOR
    merges are independent except the fence — batch i+1's write job can
    back-fill executors while batch i's write drains, and the commits stay
    strictly ordered on the caller's thread). MOR never reads table state,
    so the only snapshot inputs are the bucket spec and the schema.

    Returns None when the batch needs the serial ``merge_apply`` (assumed
    fence already past it, or in-flight schema evolution; the caller must
    refresh ``assumed`` after such a fallback)."""
    return _prepare(
        spark, table, batch, batch_id, assumed, stages=stages, winner_stages=winner_stages,
        broadcast_key_limit=broadcast_key_limit, strict_lww_ties=strict_lww_ties,
        fence_prop=fence_prop, mode="mor", speculative=True,
    )


def commit_prepared_merge(
    table: LakeTable,
    prep: PreparedMerge,
    fence_prop: str = FENCE_PROP,
    max_retries: int = 5,
) -> MergeMetrics | None:
    """``_publish`` a prepared MOR merge after re-validating its
    assumptions against the LIVE snapshot: fence (duplicate delivery ->
    skip, exactly-once holds), schema, bucket spec. Returns None when the
    assumptions no longer hold — the caller re-runs the batch through
    ``merge_apply``. Retries the CAS when an unrelated commit (compaction,
    a concurrent stream) races us but the assumptions still validate."""
    for _ in range(max_retries):
        cur = table.snapshot()
        if _fence(cur, fence_prop) >= prep.batch_id:
            return MergeMetrics(batch_id=prep.batch_id, skipped=True, snapshot_version=cur.version)
        if (
            cur.schema != prep.evolved
            or cur.num_buckets != prep.num_buckets
            or tuple(cur.key_cols) != prep.key_cols
            or _bucket_cols(cur) != prep.bucket_cols
        ):
            return None
        try:
            return _publish(table, prep, cur.version, fence_prop)
        except CommitConflict:
            continue
    return None


def merge_apply(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    stages: Iterable[TransformStage] = (),
    fence_prop: str = FENCE_PROP,
    broadcast_key_limit: int = 500_000,
    strict_lww_ties: bool = False,
    winner_stages: Iterable[TransformStage] = (),
    mode: str = "cow",
    conflict_retries: int = 0,
    precomputed: PrecomputedStats | None = None,
    changelog: bool = False,
) -> MergeMetrics:
    """Apply one microbatch of change events to ``table``: ``_prepare``
    against the live snapshot, then ``_publish`` pinned to its version.

    ``mode``:

    * ``"cow"`` (copy-on-write, default) — affected buckets rewrite:
      survivors + winners replace the bucket files. Reads stay cheap
      (one version per key on disk); each batch pays O(touched-bucket
      data) write amplification.
    * ``"mor"`` (merge-on-read) — winner rows APPEND as per-bucket delta
      files; no current-state read, no survivors, no rewrite: a batch
      costs O(batch) regardless of table size. LWW resolves at read time
      (``read_state`` dedups when the table carries deltas) and
      ``LakeTable.compact(dedup_keys=...)`` folds deltas back to one
      version per key. This is the Iceberg-v2 MOR shape — the right mode
      for sustained high-rate ingest; out-of-order and late batches are
      safe automatically because read-time LWW compares LSNs globally.

    ``batch`` columns: ``lsn long, op string in {I,U,D}``, the table's key
    columns, plus any payload columns (which may include columns the table
    has never seen -> additive schema evolution, or wider numeric types ->
    widening evolution).

    ``stages`` are vectorized DataFrame transforms run on the FULL batch
    before the merge (use for filters or anything that must see every
    event). ``winner_stages`` run AFTER the LWW dedup, on winning rows
    only — for per-row map transforms (the DocETL map analogue) this is
    semantically identical on the final table state (a losing event's
    derived columns are unobservable) and cuts transform cost from
    O(events) to O(distinct keys); on an update-heavy stream that is the
    difference between enriching 10^10 rows and enriching the 10^8 that
    survive. Winner-stage output columns join schema evolution exactly
    like batch columns.

    LSNs are normally unique per key within a batch (standard WAL/binlog
    property); violations are DETECTED for free in the phase-1 stats
    aggregate and resolved with a deterministic struct-max tiebreak over
    the (small) winner set. ``strict_lww_ties=True`` forces the tiebreak
    unconditionally.

    ``changelog=True`` makes a COPY-ON-WRITE commit change-readable
    (``cdc.changes.read_changes``): the winner frame is persisted once as
    a per-commit sidecar and then *reused* as the winners source for the
    bucket write, so the winner plan still executes exactly once — the
    cost is one extra O(batch) write, never a re-derivation. MOR commits
    ignore the flag: their delta files already ARE the changelog.

    ``conflict_retries``: when a CONCURRENT writer (another stream, a
    maintenance compact/rebucket) wins the version race, re-run the whole
    merge against the fresh snapshot up to N times. Safe by construction:
    the fence check runs first on every attempt (a duplicate-delivery race
    already returns a skip), and a losing attempt's files were never
    referenced (vacuum reclaims them).
    """
    for attempt in range(conflict_retries + 1):
        snap = table.snapshot()
        try:
            prep = _prepare(
                spark, table, batch, batch_id, snap, stages=stages, winner_stages=winner_stages,
                broadcast_key_limit=broadcast_key_limit, strict_lww_ties=strict_lww_ties,
                fence_prop=fence_prop, mode=mode, precomputed=precomputed, changelog=changelog,
            )
            if prep is None:
                return MergeMetrics(batch_id=batch_id, skipped=True, snapshot_version=snap.version)
            return _publish(table, prep, prep.base_version, fence_prop)
        except CommitConflict:
            if attempt >= conflict_retries:
                raise
            precomputed = None  # stale after a concurrent commit
