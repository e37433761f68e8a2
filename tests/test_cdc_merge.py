"""CDC merge-apply engine: upsert-replay assertions (FIXTURES.md F4).

These mirror the reference's operation-level tests recast as replay
assertions: run the change stream through the engine, then assert the lake
table's final state — row counts, key sets, per-row sha256(content) —
equals a declarative oracle computed from the same events.
"""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.cdc import create_cdc_table, merge_apply, read_state, replay_events
from docetl_spark.cdc.merge import FENCE_PROP
from docetl_spark.lake import LakeTable
from docetl_spark.sources.testgen import final_state_oracle, gen_change_events

KEYS = ["repo", "path", "commit"]


def state_hashes(df):
    """Order-insensitive (key..., sha256(content)) set — the invariant the
    north rule checks per row."""
    rows = df.select(*KEYS, F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("h")).collect()
    return sorted(tuple(r) for r in rows)


@pytest.fixture()
def events(spark):
    return gen_change_events(spark, n_events=4000, n_keys=600, batch_size=1000, seed=42).cache()


def test_replay_matches_oracle(spark, tmp_path, events):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    metrics = replay_events(spark, table, events, metrics_path=str(tmp_path / "m.jsonl"))
    assert len(metrics) == 4
    assert all(not m.skipped for m in metrics)
    assert sum(m.events_in for m in metrics) == 4000

    got = read_state(spark, table)
    want = final_state_oracle(events)
    assert state_hashes(got) == state_hashes(want)
    # lsn column stored and correct
    assert sorted(r[:4] for r in got.select(*KEYS, "lsn").collect()) == sorted(
        tuple(r) for r in want.select(*KEYS, "lsn").collect()
    )
    # lineage metrics recorded
    assert os.path.getsize(tmp_path / "m.jsonl") > 0
    assert all(m.max_lsn is not None and m.buckets_touched > 0 for m in metrics)


def test_fencing_is_idempotent(spark, tmp_path, events):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    replay_events(spark, table, events)
    v = table.current_version()
    before = state_hashes(read_state(spark, table))

    # full re-replay: every batch fenced out, zero new snapshots
    metrics = replay_events(spark, table, events)
    assert metrics == []  # fence pre-filter skips all batches
    m = merge_apply(spark, table, events.filter(F.col("batch_id") == 2), 2)
    assert m.skipped
    assert table.current_version() == v
    assert state_hashes(read_state(spark, table)) == before


def test_resume_mid_stream(spark, tmp_path, events):
    """Kill after batch 1, restart from the fence: identical final state."""
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    first_two = events.filter(F.col("batch_id") <= 1)
    replay_events(spark, table, first_two)
    assert int(table.snapshot().properties[FENCE_PROP]) == 1

    # "restart": replay the whole stream; only batches 2,3 apply
    metrics = replay_events(spark, table, events)
    assert [m.batch_id for m in metrics] == [2, 3]
    assert state_hashes(read_state(spark, table)) == state_hashes(final_state_oracle(events))


def test_deletes_leave_tombstones_blocking_late_arrivals(spark, tmp_path):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    schema = "lsn long, batch_id long, op string, repo string, path string, commit string, lang string, content string"
    b0 = [
        Row(lsn=1, batch_id=0, op="I", repo="r", path="p", commit="c1", lang="py", content="v1"),
        Row(lsn=2, batch_id=0, op="I", repo="r", path="p", commit="c2", lang="py", content="x1"),
    ]
    b1 = [Row(lsn=10, batch_id=1, op="D", repo="r", path="p", commit="c1", lang=None, content=None)]
    # late arrival: lsn 5 < the delete's lsn 10 -> must NOT resurrect c1;
    # lsn 20 > c2's lsn 2 -> must update c2.
    b2 = [
        Row(lsn=5, batch_id=2, op="U", repo="r", path="p", commit="c1", lang="py", content="stale"),
        Row(lsn=20, batch_id=2, op="U", repo="r", path="p", commit="c2", lang="py", content="x2"),
    ]
    for bid, rows in enumerate([b0, b1, b2]):
        merge_apply(spark, table, spark.createDataFrame(rows, schema), bid)

    state = {r["commit"]: r["content"] for r in read_state(spark, table).collect()}
    assert state == {"c2": "x2"}


def test_schema_evolution_additive_and_widening(spark, tmp_path):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    base = "lsn long, batch_id long, op string, repo string, path string, commit string, content string"
    merge_apply(
        spark,
        table,
        spark.createDataFrame([Row(lsn=1, batch_id=0, op="I", repo="r", path="p", commit="c1", content="v1")], base),
        0,
    )
    # batch 1 introduces loc:int (additive)
    s1 = T.StructType.fromDDL(base + ", loc int")
    merge_apply(
        spark,
        table,
        spark.createDataFrame(
            [(2, 1, "I", "r", "p", "c2", "v2", 7)], s1
        ),
        1,
    )
    # batch 2 widens loc to long and adds stars
    s2 = T.StructType.fromDDL(base + ", loc long, stars long")
    merge_apply(
        spark,
        table,
        spark.createDataFrame([(3, 2, "I", "r", "p", "c3", "v3", 2**40, 5)], s2),
        2,
    )
    got = read_state(spark, table)
    assert got.schema["loc"].dataType == T.LongType()
    assert got.schema["stars"].dataType == T.LongType()
    rows = {r["commit"]: (r["content"], r["loc"], r["stars"]) for r in got.collect()}
    # old rows read as null through the evolved schema, old int32 loc upcast
    assert rows == {"c1": ("v1", None, None), "c2": ("v2", 7, None), "c3": ("v3", 2**40, 5)}


def test_copy_on_write_touches_only_affected_buckets(spark, tmp_path, events):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    replay_events(spark, table, events)
    snap_before = table.snapshot()
    # single-key batch -> exactly one bucket rewritten
    one = spark.createDataFrame(
        [Row(lsn=10**9, batch_id=99, op="I", repo="solo", path="p", commit="c", lang="py", content="z")],
        "lsn long, batch_id long, op string, repo string, path string, commit string, lang string, content string",
    )
    m = merge_apply(spark, table, one, 99)
    assert m.buckets_touched == 1
    snap_after = table.snapshot()
    changed = [b for b in range(8) if snap_before.files.get(b) != snap_after.files.get(b)]
    assert len(changed) == 1
    # time travel still sees the old state
    assert read_state(spark, table, snap_before.version).filter(F.col("repo") == "solo").count() == 0
    assert read_state(spark, table).filter(F.col("repo") == "solo").count() == 1


def test_vacuum_keeps_current_state(spark, tmp_path, events):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    replay_events(spark, table, events)
    before = state_hashes(read_state(spark, table))
    removed = table.vacuum(keep_versions=1)
    assert removed > 0
    assert state_hashes(read_state(spark, table)) == before


def test_transform_stage_runs_before_merge(spark, tmp_path, events):
    """A vectorized map stage (DocETL code_map analogue) enriches every
    batch before the upsert."""
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    stage = lambda df: df.withColumn("content_sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
    replay_events(spark, table, events, stages=[stage])
    got = read_state(spark, table)
    assert "content_sha" in got.columns
    bad = got.filter(F.col("content_sha") != F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)).count()
    assert bad == 0


def test_extreme_hot_key_skew_replay(spark, tmp_path):
    """North rule: skew from hot repos handled explicitly. skew=8 drives
    the power-law so hard that one key receives the majority of all
    events; the narrow winning-key aggregate pre-collapses it map-side
    (partial combine), so no task ever holds the hot key's full event
    payload. Final state must still match the declarative oracle exactly."""
    from docetl_spark.cdc import create_cdc_table, read_state, replay_events
    from docetl_spark.sources.testgen import final_state_oracle, gen_change_events

    events = gen_change_events(spark, 40_000, n_keys=500, batch_size=10_000, skew=8.0)
    # confirm the workload is actually skewed: top key > 30% of events
    top = (
        events.groupBy("repo", "path", "commit").count().orderBy(F.col("count").desc()).first()
    )
    assert top["count"] > 12_000, f"workload not skewed enough: {top['count']}"

    table = create_cdc_table(str(tmp_path / "t"), ["repo", "path", "commit"], num_buckets=8)
    metrics = replay_events(spark, table, events)
    assert [m.batch_id for m in metrics] == [0, 1, 2, 3]

    got = read_state(spark, table).select("repo", "path", "commit", "lsn", "content")
    want = final_state_oracle(events).select("repo", "path", "commit", "lsn", "content")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_compact_preserves_state_and_reduces_files(spark, tmp_path, events, monkeypatch):
    from docetl_spark.cdc import create_cdc_table, read_state, replay_events

    # disable the small-state consolidating write so the replay fragments
    # bucket files the way a wide-row (above-gate) table would — that is
    # the state compaction exists to clean up
    monkeypatch.setattr("docetl_spark.cdc.merge.COW_CONSOLIDATE_BYTES", 0)
    table = create_cdc_table(str(tmp_path / "t"), ["repo", "path", "commit"], num_buckets=4)
    replay_events(spark, table, events)
    before = read_state(spark, table).sort("repo", "path", "commit", "lsn").collect()
    files_before = len(table.snapshot().all_files)

    snap = table.compact(spark)
    assert snap is not None and snap.summary["operation"] == "compact"
    files_after = len(table.snapshot().all_files)
    assert files_after <= len(table.snapshot().files)  # <= one file per bucket
    assert files_after < files_before

    after = read_state(spark, table).sort("repo", "path", "commit", "lsn").collect()
    assert before == after
    # fence survives compaction (properties carried forward)
    from docetl_spark.cdc.merge import FENCE_PROP
    assert FENCE_PROP in table.snapshot().properties


def test_commit_conflict_resolves_to_skip_or_raise(spark, tmp_path, events):
    """Racing writers: if the interloper applied the SAME batch, our merge
    resolves to a fenced no-op; if it applied something else, we raise for
    the caller to retry against fresh state."""
    from docetl_spark.cdc import create_cdc_table, merge_apply
    from docetl_spark.cdc.merge import FENCE_PROP
    from docetl_spark.lake.table import CommitConflict, LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["repo", "path", "commit"], num_buckets=4)
    b0 = events.filter(F.col("batch_id") == 0)

    # interloper commits batch 0 between our snapshot read and commit
    real_commit = LakeTable.commit
    fired = {"n": 0}

    def racing_commit(self, *args, **kwargs):
        if fired["n"] == 0:
            fired["n"] = 1
            real_commit(self, {}, set(), properties={FENCE_PROP: "0"},
                        summary={"operation": "interloper"})
        return real_commit(self, *args, **kwargs)

    LakeTable.commit = racing_commit
    try:
        m = merge_apply(spark, table, b0, 0)
        assert m.skipped  # same batch already applied -> exactly-once no-op
    finally:
        LakeTable.commit = real_commit

    # different-batch conflict -> CommitConflict surfaces for retry
    fired["n"] = 0

    def racing_commit2(self, *args, **kwargs):
        if fired["n"] == 0:
            fired["n"] = 1
            real_commit(self, {}, set(), properties={"unrelated": "x"},
                        summary={"operation": "interloper"})
        return real_commit(self, *args, **kwargs)

    LakeTable.commit = racing_commit2
    try:
        try:
            merge_apply(spark, table, events.filter(F.col("batch_id") == 1), 1)
            raised = False
        except CommitConflict:
            raised = True
        assert raised
    finally:
        LakeTable.commit = real_commit

    # clean retry now succeeds
    m = merge_apply(spark, table, events.filter(F.col("batch_id") == 1), 1)
    assert not m.skipped


def test_rebucket_preserves_state_and_future_merges(spark, tmp_path, events):
    from docetl_spark.lake.table import LakeTable
    from pyspark.sql import functions as F2

    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    first = events.filter(F2.col("batch_id") < 3)
    replay_events(spark, table, first)
    before = state_hashes(read_state(spark, table))
    v_old = table.snapshot().version

    snap = table.rebucket(spark, 16)
    assert snap.num_buckets == 16
    assert set(snap.files) <= set(range(16)) and len(snap.files) > 4
    # state byte-identical through the spec change
    assert state_hashes(read_state(spark, table)) == before
    # time travel still resolves the OLD spec
    old = table.snapshot(v_old)
    assert old.num_buckets == 4
    assert state_hashes(read_state(spark, table, version=v_old)) == before
    # fence survived: already-applied batches still no-op
    assert replay_events(spark, table, first) == []
    # the next merge picks up the new spec and ends at the oracle state
    replay_events(spark, table, events)
    assert state_hashes(read_state(spark, table)) == state_hashes(final_state_oracle(events))
    # no-op when the count is unchanged
    assert table.rebucket(spark, 16) is None


def test_rebucket_with_mor_deltas_then_compact(spark, tmp_path, events):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events, mode="mor")
    want = state_hashes(final_state_oracle(events))
    assert state_hashes(read_state(spark, table)) == want

    table.rebucket(spark, 8)  # deltas + tombstones carried verbatim
    assert state_hashes(read_state(spark, table)) == want
    from docetl_spark.cdc import compact_state

    compact_state(spark, table)  # per-bucket LWW fold still correct: all
    # versions of a key hash to one new bucket
    assert table.snapshot().properties.get("cdc.has-deltas") == "false"
    assert state_hashes(read_state(spark, table)) == want


def test_read_keys_bucket_pruned_lookup(spark, tmp_path, events):
    from docetl_spark.cdc import read_keys

    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=16)
    replay_events(spark, table, events)
    full = read_state(spark, table)
    some = full.select(*KEYS).orderBy(*KEYS).limit(5)
    got = read_keys(spark, table, some)
    assert state_hashes(got) == state_hashes(full.join(some, on=KEYS, how="left_semi"))
    # a deleted/absent key returns nothing
    import pyspark.sql.functions as F2

    ghost = spark.createDataFrame([("no-such", "k", "v")], "repo string, path string, commit string")
    assert read_keys(spark, table, ghost).count() == 0
    # empty lookup
    assert read_keys(spark, table, ghost.limit(0)).count() == 0


def test_replay_mor_periodic_compaction(spark, tmp_path, events):
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events, mode="mor", compact_every=2)
    # 4 batches -> compactions after batch 2 and 4: delta flag clear at end,
    # per-bucket file count bounded at 1
    snap = table.snapshot()
    assert snap.properties.get("cdc.has-deltas") == "false"
    assert all(len(fl) == 1 for fl in snap.files.values())
    assert state_hashes(read_state(spark, table)) == state_hashes(final_state_oracle(events))
    # resume after compaction: fence still filters applied batches
    assert replay_events(spark, table, events, mode="mor", compact_every=2) == []


def test_winner_stage_with_validated_middleware(spark, tmp_path, events):
    """The reference's whole shape: an (LLM-style) map op with validation
    retries running per microbatch. Here: a winner_stage wrapped in
    validated() enriches winning rows; rows failing the rule re-run with
    the _retry_attempt feedback column and succeed."""
    import pandas as pd

    from docetl_spark.cdc.middleware import as_stage, validated

    def enrich(pdf: pd.DataFrame) -> pd.DataFrame:
        att = pdf["_retry_attempt"] if "_retry_attempt" in pdf.columns else pd.Series(0, index=pdf.index)
        out = pdf.copy()
        out = out.drop(columns=["_retry_attempt"], errors="ignore")
        # "flaky" enrichment: first attempt yields an invalid sentinel for
        # rows whose lsn % 3 == 0; the retry fixes them
        out["n_chars"] = pdf["content"].fillna("").str.len().astype("int64")
        bad = (pdf["lsn"] % 3 == 0) & (att.to_numpy() == 0)
        out.loc[bad.to_numpy(), "n_chars"] = -1
        return out

    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in events.schema.fields
    ) + ", n_chars long"
    stage = as_stage(validated(enrich, rule=lambda o: o["n_chars"] >= 0, num_retries=1), schema)
    replay_events(spark, table, events, winner_stages=[stage])

    got = read_state(spark, table)
    assert state_hashes(got) == state_hashes(final_state_oracle(events))
    # every surviving row enriched and valid (no -1 sentinels escaped)
    assert got.filter("n_chars < 0").count() == 0
    assert got.filter("n_chars != length(coalesce(content, ''))").count() == 0


def test_history_metrics_and_vacuum_orphans(spark, tmp_path, events):
    from docetl_spark.cdc import read_metrics
    from docetl_spark.lake.table import CommitConflict

    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    mpath = str(tmp_path / "m.jsonl")
    replay_events(spark, table, events, metrics_path=mpath)

    # snapshot history: create + 4 merges, batch ids auditable
    hist = table.history()
    assert [h["operation"] for h in hist] == [None, "merge", "merge", "merge", "merge"] or \
           [h["operation"] for h in hist][0] == "create"
    assert hist[-1]["properties"]["cdc.last-batch-id"] == "3"

    # lineage metrics queryable as a DataFrame
    m = read_metrics(spark, mpath)
    assert m.count() == 4
    assert m.agg({"events_in": "sum"}).collect()[0][0] == 4000
    assert m.filter("min_lsn > max_lsn").count() == 0

    # a conflicting (stale expected_version) commit leaves orphan files;
    # vacuum removes them and keeps the live state intact
    snap = table.snapshot()
    batch = events.filter("batch_id = 0")
    tag = "orphan-test"
    orphans = table.write_bucket_files(
        spark.read.schema(snap.schema).parquet(
            *[str(tmp_path / "t" / f) for f in snap.all_files[:1]]
        ), snap, tag)
    import pytest as _pytest

    with _pytest.raises(CommitConflict):
        table.commit(orphans, set(), expected_version=snap.version - 1)
    before = state_hashes(read_state(spark, table))
    removed = table.vacuum(keep_versions=1)
    assert removed >= 1  # the orphaned files are gone
    assert state_hashes(read_state(spark, table)) == before


def test_commit_conflict_retries_against_fresh_state(spark, tmp_path, events):
    """A concurrent writer (e.g. maintenance) bumping the version between
    our snapshot read and commit must trigger a clean retry against fresh
    state, not a crash — for both merge_apply and compact_state."""
    from docetl_spark.cdc import compact_state
    from docetl_spark.lake.table import CommitConflict, LakeTable

    path = str(tmp_path / "t")
    table = create_cdc_table(path, KEYS, num_buckets=4)
    b0 = events.filter("batch_id = 0")
    b1 = events.filter("batch_id = 1")
    merge_apply(spark, table, b0, 0, mode="mor")

    other = LakeTable(path)  # the racing writer's handle
    real_commit = table.commit
    state = {"raced": 0}

    def racing_commit(*a, **kw):
        if state["raced"] == 0:
            state["raced"] = 1
            other.commit({}, set(), properties={"race": "1"}, summary={"operation": "race"})
        return real_commit(*a, **kw)

    table.commit = racing_commit
    # without retries: surfaces the conflict
    with pytest.raises(CommitConflict):
        merge_apply(spark, table, b1, 1, mode="mor")
    # with retries: second attempt sees the fresh version and lands
    m = merge_apply(spark, table, b1, 1, mode="mor", conflict_retries=2)
    assert not m.skipped and state["raced"] == 1

    # compact_state retries too (fresh deltas appended by the race are
    # folded, not dropped)
    state["raced"] = 0
    snap = compact_state(spark, table)
    assert snap is not None
    assert table.snapshot().properties.get("cdc.has-deltas") == "false"
    table.commit = real_commit
    # end state unchanged by all the racing
    want = final_state_oracle(events.filter("batch_id <= 1"))
    assert state_hashes(read_state(spark, table)) == state_hashes(want)


def test_precomputed_stats_fingerprint_fallback(spark, tmp_path):
    # a stale prefetch (wrong batch / changed bucket fn) must be ignored,
    # not trusted — same final state either way
    from docetl_spark.cdc import create_cdc_table, read_state
    from docetl_spark.cdc.merge import PrecomputedStats, compute_batch_stats, merge_apply

    path = str(tmp_path / "t")
    table = create_cdc_table(path, ["k"], num_buckets=4)
    b0 = spark.createDataFrame(
        [(1, "U", "a", 10.0), (2, "U", "b", 20.0)], "lsn long, op string, k string, v double"
    )
    pre = compute_batch_stats(table, b0, 0)
    assert pre.batch_id == 0 and pre.num_buckets == 4
    m = merge_apply(spark, table, b0, 0, precomputed=pre)
    assert m.keys_in_batch == 2 and not m.skipped

    b1 = spark.createDataFrame(
        [(3, "U", "a", 11.0), (4, "D", "b", 0.0)], "lsn long, op string, k string, v double"
    )
    stale = PrecomputedStats(batch_id=99, key_cols=("k",), num_buckets=4, rows=[])
    m1 = merge_apply(spark, table, b1, 1, precomputed=stale)  # ignored -> recomputed
    assert m1.keys_in_batch == 2 and m1.deletes == 1
    got = {r["k"]: r["v"] for r in read_state(spark, table).collect()}
    assert got == {"a": 11.0}


def test_rebucket_between_replays_resumes_correctly(spark, tmp_path):
    # bucket-spec evolution mid-stream: replay half, rebucket to 4x the
    # buckets, resume — fence intact, prefetch fingerprint adapts, final
    # state equals the oracle
    from pyspark.sql import functions as F

    from docetl_spark.cdc import create_cdc_table, read_state, replay_events
    from docetl_spark.sources.testgen import final_state_oracle, gen_change_events

    path = str(tmp_path / "t")
    ev = gen_change_events(spark, n_events=6000, n_keys=900, batch_size=1500, seed=3)
    table = create_cdc_table(path, ["repo", "path", "commit"], num_buckets=4)
    bids = sorted(r[0] for r in ev.select("batch_id").distinct().collect())
    replay_events(spark, table, ev, batch_ids=bids[: len(bids) // 2])
    table.rebucket(spark, 16)
    assert table.snapshot().num_buckets == 16
    ms = replay_events(spark, table, ev)
    assert [m.batch_id for m in ms if not m.skipped] == bids[len(bids) // 2 :]
    state = read_state(spark, table).select("repo", "path", "commit", F.sha2("content", 256).alias("h"))
    oracle = final_state_oracle(ev).select("repo", "path", "commit", F.sha2("content", 256).alias("h"))
    assert state.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(state).count() == 0


def test_coalesced_replay_matches_sequential(spark, tmp_path, events):
    """coalesce_batches groups contiguous tiny batches into one fenced
    commit; LWW is associative across batches so the final state is
    byte-identical, the fence records the group max, and redelivery of
    any constituent batch is skipped."""
    t_seq = create_cdc_table(str(tmp_path / "seq"), KEYS, num_buckets=8)
    replay_events(spark, t_seq, events)
    t_co = create_cdc_table(str(tmp_path / "co"), KEYS, num_buckets=8)
    metrics = replay_events(spark, t_co, events, coalesce_batches=3)
    # 4 batches -> groups [0,1,2],[3]; fences 2 then 3
    assert [m.batch_id for m in metrics] == [2, 3]
    assert sum(m.events_in for m in metrics) == 4000
    assert state_hashes(read_state(spark, t_co)) == state_hashes(read_state(spark, t_seq))
    # constituent batch redelivery is fenced out
    m = merge_apply(spark, t_co, events.filter(F.col("batch_id") == 1), 1)
    assert m.skipped
    # resume with different grouping still converges: fresh table, apply
    # group [0,1] then re-replay coalesced by 3 -> only pending [2,3] apply
    t_mix = create_cdc_table(str(tmp_path / "mix"), KEYS, num_buckets=8)
    replay_events(spark, t_mix, events.filter(F.col("batch_id") < 2), coalesce_batches=2)
    m2 = replay_events(spark, t_mix, events, coalesce_batches=3)
    assert [m.batch_id for m in m2] == [3] and not m2[0].skipped
    assert state_hashes(read_state(spark, t_mix)) == state_hashes(read_state(spark, t_seq))


def test_interleaved_ingest_compaction_stress(spark, tmp_path, events):
    """Two interleaved writers under FORCED conflicts (VERDICT r4 #8): a
    second handle lands a REAL compaction (bucket files replaced, deltas
    folded) between EVERY merge's snapshot read and its commit, plus a
    vacuum every other batch — so every ingest commit's first attempt
    hits a genuine CommitConflict against restructured state and must
    retry without resurrecting pre-compaction deltas or dropping its own
    rows. Final state is sha-verified against the sequential oracle, and
    a full fenced re-replay stays a no-op."""
    from docetl_spark.cdc import compact_state
    from docetl_spark.lake.table import CommitConflict, LakeTable

    path = str(tmp_path / "t")
    table = create_cdc_table(path, KEYS, num_buckets=4)
    other = LakeTable(path)  # the compaction writer's independent handle

    real_commit = table.commit
    stats = {"pending": False, "conflicts": 0, "compactions": 0, "batch": 0}

    def racing_commit(*a, **kw):
        if stats["pending"]:
            stats["pending"] = False
            if other.snapshot().properties.get("cdc.has-deltas") == "true":
                compact_state(spark, other)  # real competing commit
                stats["compactions"] += 1
                if stats["batch"] % 2 == 0:
                    other.vacuum(keep_versions=2)
        try:
            return real_commit(*a, **kw)
        except CommitConflict:
            stats["conflicts"] += 1
            raise

    table.commit = racing_commit
    try:
        for b in range(4):
            stats["pending"], stats["batch"] = True, b
            m = merge_apply(spark, table, events.filter(F.col("batch_id") == b),
                            b, mode="mor", conflict_retries=3)
            assert not m.skipped, b
    finally:
        table.commit = real_commit

    # batches 1-3 raced against a real compaction (batch 0 has no deltas
    # to compact yet) and every race produced a genuine conflict + retry
    assert stats["compactions"] == 3
    assert stats["conflicts"] == 3

    want = final_state_oracle(events)
    assert state_hashes(read_state(spark, table)) == state_hashes(want)

    # fence survives all the racing: full re-replay applies nothing
    assert replay_events(spark, LakeTable(path), events) == []
    assert state_hashes(read_state(spark, table)) == state_hashes(want)

    # final maintenance pass converges to a compact, still-correct table
    compact_state(spark, LakeTable(path))
    fresh = LakeTable(path)
    assert fresh.snapshot().properties.get("cdc.has-deltas") == "false"
    assert state_hashes(read_state(spark, fresh)) == state_hashes(want)


def test_reserved_bucket_column_refused(spark, tmp_path):
    """_bucket is the write path's partitioning column — a payload column
    by that name would be silently overwritten and destroyed, so the
    merge refuses it loudly and leaves the table untouched."""
    from docetl_spark.schema import SchemaError

    path = str(tmp_path / "t")
    table = create_cdc_table(path, KEYS)
    v0 = table.current_version()
    ev = gen_change_events(spark, n_events=50, batch_size=50).withColumn("_bucket", F.lit(7))
    with pytest.raises(SchemaError, match="_bucket"):
        merge_apply(spark, table, ev, 0)
    assert table.current_version() == v0


def test_fused_small_merge_equals_classic_path(spark, tmp_path, events, monkeypatch):
    """r6 optimization: below the small-state byte gate the CoW merge runs
    as ONE aggregate over (current ∪ batch) instead of the three-broadcast
    two-phase plan. The final state must be IDENTICAL — including the
    stored-row-wins-on-equal-LSN rule — and every rewritten bucket must
    land in exactly one file (the consolidating write)."""
    # classic path (gate forced off)
    monkeypatch.setattr("docetl_spark.cdc.merge.COW_CONSOLIDATE_BYTES", 0)
    t_classic = create_cdc_table(str(tmp_path / "classic"), KEYS, num_buckets=4)
    replay_events(spark, t_classic, events)
    # fused path (gate wide open)
    monkeypatch.setattr("docetl_spark.cdc.merge.COW_CONSOLIDATE_BYTES", 1 << 40)
    t_fused = create_cdc_table(str(tmp_path / "fused"), KEYS, num_buckets=4)
    replay_events(spark, t_fused, events)

    assert state_hashes(read_state(spark, t_classic)) == state_hashes(read_state(spark, t_fused))
    # consolidating write: one file per bucket after every commit
    snap = t_fused.snapshot()
    assert all(len(fl) == 1 for fl in snap.files.values())

    # equal-LSN tie against the stored row keeps the stored row on BOTH paths
    tie = spark.createDataFrame(
        [Row(lsn=0, op="U", repo="r0", path="p0", commit="c0", content="late-duplicate")]
    )
    for tbl in (t_classic, t_fused):
        stored = read_state(spark, tbl).filter(
            (F.col("repo") == "r0") & (F.col("path") == "p0") & (F.col("commit") == "c0")
        ).collect()
        key_lsn = stored[0]["lsn"] if stored else None
        if key_lsn is None:
            continue
        dup = tie.withColumn("lsn", F.lit(int(key_lsn)))
        merge_apply(spark, tbl, dup, batch_id=99)
        after = read_state(spark, tbl).filter(
            (F.col("repo") == "r0") & (F.col("path") == "p0") & (F.col("commit") == "c0")
        ).collect()
        assert after[0]["content"] == stored[0]["content"] != "late-duplicate"


def test_file_bytes_recorded_by_every_writer(spark, tmp_path, events):
    """The CoW consolidation gate reads per-file sizes from metadata, so
    every writer (merge, widen-rewrite, compact, rebucket) must record the
    size of each new file, carry surviving files' sizes forward and drop
    replaced ones — and vacuum must leave them true."""
    from docetl_spark.cdc import compact_state

    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)

    def check(op):
        snap = table.snapshot()
        assert snap.summary.get("operation") == op
        assert snap.all_files and set(snap.file_bytes) == set(snap.all_files)
        for f in snap.all_files:
            assert snap.file_bytes[f] == os.path.getsize(os.path.join(table.path, f))

    replay_events(spark, table, events.filter("batch_id <= 1"))
    check("merge")
    merge_apply(spark, table, events.filter("batch_id = 2"), 2, mode="mor")
    check("merge")
    # a long payload column widened to double forces a widen-rewrite commit
    one = "lsn long, op string, repo string, path string, commit string, n {}"
    merge_apply(spark, table, spark.createDataFrame([(10**9, "I", "r", "p", "c", 1)], one.format("long")), 3)
    merge_apply(spark, table, spark.createDataFrame([(10**9 + 1, "I", "r", "p", "c", 1.5)], one.format("double")), 4)
    assert "widen-rewrite" in [h["operation"] for h in table.history()]
    check("merge")
    compact_state(spark, table)
    check("compact")
    table.rebucket(spark, 8)
    check("rebucket")
    table.vacuum()
    check("rebucket")
