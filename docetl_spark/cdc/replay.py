"""Batch replayer: drive the merge pipeline over an ordered change stream.

A binlog/WAL materialized as a DataFrame with a ``batch_id`` column is
replayed one microbatch at a time; every batch commit is fenced, so a
replay interrupted at batch k resumes from k+1 with no duplicates and no
gaps (exactly-once). The streaming face of the same loop lives in
``docetl_spark.streaming.stream`` (Structured Streaming foreachBatch).

``replay_events`` is ONE ordered loop over the batches with a per-mode
look-ahead running on helper threads while the current batch commits:

* MOR — a full ``prepare_mor_merge`` (stats + winners + bucket-file
  write) for the current batch and the next one (depth
  ``MOR_PIPELINE_DEPTH``); the loop publishes them in batch order with
  ``commit_prepared_merge``.
* CoW — a ``compute_batch_stats`` prefetch for the next batch (depth 1)
  that ``merge_apply`` reuses when its bucket fingerprint still matches.

A look-ahead that raises, returns None or fails validation is simply not
used: the batch goes through the serial ``merge_apply``. The merge entry
points are looked up on ``docetl_spark.cdc.merge`` at call time.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.cdc import merge as _merge
from docetl_spark.cdc.merge import (  # merge_apply stays importable here: perfbench/trace.py patches it
    DELETED_COL,
    DELTA_PROP,
    FENCE_PROP,
    MergeMetrics,
    TransformStage,
    dedup_last_writer,
    merge_apply,
)
from docetl_spark.lake.table import LakeTable

# MOR prepares in flight: one in-flight write + one back-filling; deeper
# pipelines add concurrent shuffle/write pressure on shared disks (depth 3
# measured no better) — measure before raising.
MOR_PIPELINE_DEPTH = 2


def create_cdc_table(
    path: str, key_cols: list[str], num_buckets: int = 16,
    key_types: dict[str, str] | None = None,
    stats_cols: tuple[str, ...] | None = ("lsn",),
) -> LakeTable:
    """Create an empty CDC target table: key columns + LWW system columns.

    All payload columns arrive via in-flight schema evolution, exactly as
    new DocETL operator output columns appear mid-stream (north rule).
    Key columns default to string (the north-rule key shape); pass
    ``key_types`` (type-spec strings, e.g. ``{"doc_id": "int"}``) for
    non-string keys — key types do NOT evolve (widening a key would change
    its hash and therefore its bucket).

    ``stats_cols`` (default: lsn) records per-file column bounds at every
    commit, enabling the file-skipping read of ``read_state(lsn_min=...)``
    — "keys touched since LSN X" scans O(recent files), not the table.
    """
    from docetl_spark.schema import parse_type

    key_types = key_types or {}
    fields = [
        T.StructField(k, parse_type(key_types.get(k, "string")), False) for k in key_cols
    ]
    fields += [T.StructField("lsn", T.LongType(), True), T.StructField(DELETED_COL, T.BooleanType(), True)]
    return LakeTable.create(path, T.StructType(fields), key_cols, num_buckets=num_buckets,
                            stats_cols=list(stats_cols) if stats_cols else None)


def read_state(spark: SparkSession, table: LakeTable, version: int | None = None,
               lsn_min: int | None = None) -> DataFrame:
    """Live (non-tombstoned) rows of a CDC table.

    When the snapshot carries merge-on-read deltas (``cdc.has-deltas``),
    the read resolves LWW per key first — the MOR read path. Run
    ``compact_state`` to fold deltas and make reads cheap again.

    ``lsn_min`` — "keys whose CURRENT version has lsn >= X" — uses the
    per-file lsn bounds to skip files entirely below X before scanning.
    Lower-bound skipping commutes with read-time LWW: a skipped file
    holds only rows that either lose to a kept row (the key's winner has
    lsn >= X, and its file is kept) or belong to keys the post-dedup
    filter drops anyway — so the filter below runs AFTER dedup and the
    result is exact. Upper bounds would not commute (pruning a winner's
    file would resurrect a stale row), so only the lower bound prunes."""
    snap = table.snapshot(version)
    if lsn_min is not None:
        df = table.read_pruned(spark, {"lsn": (lsn_min, None)}, snap=snap, lower_only=True)
    else:
        df = table.read(spark, version)
    if snap.properties.get(DELTA_PROP) == "true":
        df = dedup_last_writer(df, snap.key_cols)
    if lsn_min is not None:
        df = df.filter(F.col("lsn") >= lsn_min)
    if DELETED_COL in df.columns:
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
    return df


def read_metrics(spark: SparkSession, metrics_path: str) -> DataFrame:
    """The lineage-metrics JSONL (one MergeMetrics per applied batch) as a
    queryable DataFrame — per-batch offsets (min/max lsn), row counts,
    merge stats and per-bucket histograms (north rule: lineage emitted as
    metrics)."""
    return spark.read.json(metrics_path)


def read_keys(spark: SparkSession, table: LakeTable, keys: DataFrame) -> DataFrame:
    """Point lookup: live rows for the given key tuples, reading ONLY the
    buckets those keys hash into (partition pruning for key-equality
    predicates — an O(|keys|/num_buckets)-of-table scan instead of
    O(table)). ``keys`` carries exactly the table's key columns; the
    lookup set is assumed driver-small (it is collected to compute the
    bucket list and broadcast into the semi-join)."""
    snap = table.snapshot()
    key_rows = keys.select(*snap.key_cols).distinct().collect()
    if not key_rows:
        return read_state(spark, table).limit(0)
    lookup = spark.createDataFrame(key_rows, keys.select(*snap.key_cols).schema)
    return read_keys_frame(spark, table, lookup, snap=snap)


def read_keys_frame(spark: SparkSession, table: LakeTable, keys: DataFrame,
                    snap=None) -> DataFrame:
    """Bucket-pruned point lookup with a DISTRIBUTED key frame: the
    shared read-repair tail of every point lookup (``read_keys``, the
    dedup ingest's candidate fetch, the stored-ANN candidate fetch).
    Reads only the hash buckets the keys land in, broadcast-semi-joins
    the (bounded) key set so wide rows never shuffle, LWW-dedups MOR
    deltas and drops tombstones. Only the distinct bucket ids are
    collected (≤ num_buckets ints); ``keys`` must carry exactly the
    table's key columns."""
    snap = snap or table.snapshot()
    buckets = sorted({
        r["_b"]
        for r in keys.select(table.bucket_expr(snap).alias("_b")).distinct().collect()
    })
    df = table.read_buckets(spark, [b for b in buckets if b in snap.files], snap)
    df = df.join(F.broadcast(keys), on=snap.key_cols, how="left_semi")
    if snap.properties.get(DELTA_PROP) == "true":
        df = dedup_last_writer(df, snap.key_cols)
    if DELETED_COL in df.columns:
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
    return df


def compact_state(spark: SparkSession, table: LakeTable, min_files: int = 2,
                  conflict_retries: int = 3):
    """Fold MOR delta files: per bucket, keep one LWW-winning row per key
    (tombstones kept — they must still block late lower-LSN arrivals) and
    clear the read-dedup flag. The write-amplification that CoW pays per
    batch, paid once here across many batches.

    A maintenance job racing the ingest loses the version race benignly:
    on CommitConflict the whole compact re-runs against the fresh snapshot
    (up to ``conflict_retries`` times) so newly-appended deltas are folded
    too — never silently dropped.

    When deltas exist, EVERY bucket compacts (min_files=1): after a
    CoW-mode batch on a delta-carrying table, even a single bucket file
    can hold multiple versions of a key (survivors pass duplicates
    through), so clearing the read-dedup flag is only safe after a full
    dedup pass."""
    from docetl_spark.lake.table import CommitConflict

    for attempt in range(conflict_retries + 1):
        snap = table.snapshot()
        has_deltas = snap.properties.get(DELTA_PROP) == "true"
        transform = (lambda df: dedup_last_writer(df, snap.key_cols)) if has_deltas else None
        try:
            new_snap = table.compact(spark, min_files=1 if has_deltas else min_files, transform=transform,
                                     properties={DELTA_PROP: "false"} if has_deltas else None)
            if new_snap is None and has_deltas:
                # nothing to rewrite (every bucket already single-file =>
                # unique keys), but the flag still needs an atomic
                # metadata-only clear
                new_snap = table.commit({}, set(), properties={DELTA_PROP: "false"},
                                        summary={"operation": "compact", "noop": True},
                                        expected_version=snap.version)
            return new_snap
        except CommitConflict:
            if attempt >= conflict_retries:
                raise


def replay_events(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    stages: Iterable[TransformStage] = (),
    batch_col: str = "batch_id",
    metrics_path: str | None = None,
    winner_stages: Iterable[TransformStage] = (),
    batch_ids: list[int] | None = None,
    mode: str = "cow",
    compact_every: int | None = None,
    coalesce_batches: int | None = None,
    changelog: bool = False,
) -> list[MergeMetrics]:
    """Replay ``events`` batch by batch in ascending ``batch_col`` order.

    Already-applied batches (fence) are skipped without reading their data.
    Per-batch lineage metrics are returned and, if ``metrics_path`` is
    given, appended as JSONL (the metrics table). Pass ``batch_ids`` when
    the WAL's batch range is already known (e.g. from its manifest) to
    skip the discovery scan.

    ``compact_every`` (MOR maintenance policy): fold deltas back to one
    version per key after every N applied batches, bounding read-side
    dedup cost and per-bucket file counts on an unbounded ingest — the
    10^10-event stream runs MOR + periodic compaction, not one giant
    end-of-time compaction. Compaction is itself an atomic commit, so a
    crash between batches never loses the fence.

    ``coalesce_batches`` (micro-batch policy): apply every N CONTIGUOUS
    pending batches as ONE fenced commit (``batch_id`` = the group's max).
    LWW by LSN is associative across batches — the union's per-key max-LSN
    winner equals sequential application — so the final state is
    byte-identical for streams whose LSNs are unique per key (the
    standard WAL/binlog property) while the per-commit serial floor
    (snapshot read, stats job, write-job launch, metadata fsync) is paid
    once per group instead of once per tiny batch. ANOMALOUS streams that
    repeat a (key, LSN) pair across batches of one group resolve the tie
    with the deterministic struct-max tiebreak (the same rule a
    duplicate-LSN pair inside a single batch always gets) instead of
    sequential replay's stored-row-wins — both deterministic, but they
    can pick different rows when the duplicated LSN carries divergent
    payloads; don't coalesce such streams if first-delivery-wins matters. Exactly-once holds: the fence records the
    group max, so redelivery of any constituent batch is skipped; a crash
    mid-group re-applies the whole group (no partial state was committed).
    Lineage granularity becomes per-group (one MergeMetrics; min/max LSN
    and event counts still exact).
    """
    snap = table.snapshot()
    last_applied = int(snap.properties.get(FENCE_PROP, "-1"))
    if batch_ids is None:
        batch_ids = [
            r[0]
            for r in events.filter(F.col(batch_col) > last_applied)
            .select(batch_col)
            .distinct()
            .sort(batch_col)
            .collect()
        ]
    else:
        batch_ids = sorted(b for b in batch_ids if b > last_applied)
    if coalesce_batches and coalesce_batches > 1:
        groups = [batch_ids[i:i + coalesce_batches]
                  for i in range(0, len(batch_ids), coalesce_batches)]
    else:
        groups = [[b] for b in batch_ids]
    # NOTE (negative result, measured): re-staging the pending binlog
    # partitioned by batch id — so each merge's scan directory-prunes to
    # its own batch instead of filtering the full event set — LOSES at
    # every bench scale: the generator's binlog is already batch-clustered
    # (row-group min/max on batch_id prunes), and for the one-row-group sf
    # events table the 48-dir staging write costs more than the redundant
    # 100k-row decodes it saves (4.17 s vs 3.74 s ungrouped; 12M MOR
    # 171.5 s vs 146.6 s). Revisit only for binlogs that are both huge AND
    # batch-interleaved.
    def batch_df(group):
        if len(group) == 1:
            return events.filter(F.col(batch_col) == group[0])
        return events.filter(F.col(batch_col).isin([int(b) for b in group]))

    # Look-ahead window: groups [i + first, i + first + depth) are in
    # flight while group i commits. A MOR merge never reads table state,
    # so its whole prepare runs ahead (from the current batch on) and only
    # the fenced commits stay ordered on this thread — exactly-once, fence
    # monotonicity and the change feed's per-commit deltas are those of
    # serial replay. CoW reads the previous commit's state, so only the
    # next batch's stats job (which reads just its own events) runs ahead.
    is_mor = mode == "mor"
    first, depth = (0, MOR_PIPELINE_DEPTH) if is_mor else (1, 1)
    assumed = snap  # MOR prepares' snapshot; refreshed after a fallback

    def look_ahead(group):
        bid = int(max(group))
        if is_mor:
            return pool.submit(_merge.prepare_mor_merge, spark, table, batch_df(group), bid,
                               assumed, stages=stages, winner_stages=winner_stages)
        return pool.submit(_merge.compute_batch_stats, table, batch_df(group), bid, stages)

    out: list[MergeMetrics] = []
    ahead: dict = {}
    nxt = first
    with ThreadPoolExecutor(max_workers=depth) as pool:
        for i, group in enumerate(groups):
            while nxt < min(i + first + depth, len(groups)):
                ahead[nxt] = look_ahead(groups[nxt])
                nxt += 1
            got = None
            if i in ahead:
                try:
                    got = ahead.pop(i).result()
                except Exception:
                    got = None  # look-ahead is an optimization, never a failure
            m = _merge.commit_prepared_merge(table, got) if is_mor and got is not None else None
            if m is None:
                # no usable look-ahead (none, failed, or drifted
                # assumptions): the serial merge owns this batch; later
                # MOR prepares rebuild on the fresh snapshot (in-flight
                # ones self-invalidate at commit)
                m = _merge.merge_apply(spark, table, batch_df(group), int(max(group)),
                                       stages=stages, winner_stages=winner_stages, mode=mode,
                                       precomputed=None if is_mor else got, changelog=changelog)
                if is_mor:
                    assumed = table.snapshot()
            out.append(m)
            if metrics_path:
                os.makedirs(os.path.dirname(metrics_path) or ".", exist_ok=True)
                with open(metrics_path, "a") as f:
                    f.write(json.dumps(m.to_dict()) + "\n")
            if compact_every and (i + 1) % compact_every == 0:
                compact_state(spark, table)
    return out
