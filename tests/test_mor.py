"""Merge-on-read mode: O(batch) appends, read-time LWW, compaction.

The CoW/MOR pair mirrors Iceberg v2's copy-on-write vs merge-on-read
table modes; both must produce identical logical state for any stream.
"""

from pyspark.sql import functions as F

from docetl_spark.cdc import compact_state, create_cdc_table, merge_apply, read_state, replay_events
from docetl_spark.cdc.merge import DELTA_PROP
from docetl_spark.sources.testgen import final_state_oracle, gen_change_events

KEYS = ["repo", "path", "commit"]


def df_rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


def _events(spark):
    return gen_change_events(spark, 8000, n_keys=600, batch_size=2000)


def test_mor_replay_matches_oracle_and_appends(spark, tmp_path):
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events, mode="mor")

    snap = table.snapshot()
    assert snap.properties[DELTA_PROP] == "true"
    # appends: multiple delta files per bucket (4 batches hit every bucket)
    assert max(len(fl) for fl in snap.files.values()) > 1

    got = read_state(spark, table).select(*KEYS, "lsn", "content")
    want = final_state_oracle(events).select(*KEYS, "lsn", "content")
    assert df_rows(got) == df_rows(want)


def test_mor_equals_cow_state(spark, tmp_path):
    events = _events(spark)
    t_cow = create_cdc_table(str(tmp_path / "cow"), KEYS, num_buckets=4)
    t_mor = create_cdc_table(str(tmp_path / "mor"), KEYS, num_buckets=4)
    replay_events(spark, t_cow, events, mode="cow")
    replay_events(spark, t_mor, events, mode="mor")
    cols = [*KEYS, "lsn", "lang", "content"]
    assert df_rows(read_state(spark, t_cow).select(*cols)) == df_rows(
        read_state(spark, t_mor).select(*cols)
    )


def test_mor_compaction_folds_deltas(spark, tmp_path):
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events, mode="mor")
    before = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))

    snap = compact_state(spark, table)
    assert snap is not None
    assert table.snapshot().properties[DELTA_PROP] == "false"
    assert all(len(fl) <= 1 for fl in table.snapshot().files.values())
    # compaction keeps tombstones (late lower-LSN events must stay blocked)
    raw = table.read(spark)
    assert raw.filter(F.col("_deleted")).count() > 0

    after = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    assert before == after

    # post-compaction merges still work and re-set the delta flag
    late = events.filter(F.col("batch_id") == 3).withColumn("batch_id", F.lit(9)).withColumn(
        "lsn", F.col("lsn") + 100000
    )
    merge_apply(spark, table, late, 9, mode="mor")
    assert table.snapshot().properties[DELTA_PROP] == "true"
    assert read_state(spark, table).count() >= len(after) - 1


def test_mor_out_of_order_batch_is_safe(spark, tmp_path):
    """A late batch carrying LOWER lsns than already-applied data must not
    overwrite newer rows: read-time LWW compares lsn globally."""
    rows_new = [(100 + i, 0, "U", f"r{i}", "p", "c", f"new{i}") for i in range(5)]
    rows_old = [(i, 1, "U", f"r{i}", "p", "c", f"old{i}") for i in range(5)]
    schema = "lsn long, batch_id long, op string, repo string, path string, commit string, content string"
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=2)
    merge_apply(spark, table, spark.createDataFrame(rows_new, schema), 0, mode="mor")
    merge_apply(spark, table, spark.createDataFrame(rows_old, schema), 1, mode="mor")
    got = {r["repo"]: r["content"] for r in read_state(spark, table).collect()}
    assert got == {f"r{i}": f"new{i}" for i in range(5)}


def test_mode_switch_mid_stream_is_safe(spark, tmp_path):
    """CoW batches then MOR batches (and back) over one table: read-time
    LWW over mixed bucket files must still equal the oracle — operators
    can change the write mode per batch without migration."""
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    modes = {0: "cow", 1: "mor", 2: "mor", 3: "cow"}
    for b in range(4):
        merge_apply(spark, table, events.filter(F.col("batch_id") == b), b, mode=modes[b])
    got = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    want = df_rows(final_state_oracle(events).select(*KEYS, "lsn", "content"))
    assert got == want


def test_compact_after_mode_switch_restores_unique_keys(spark, tmp_path):
    """Regression: a CoW batch on a delta-carrying table can pass duplicate
    key versions into a SINGLE survivor file; compact_state must still
    dedup every bucket before clearing the read-dedup flag."""
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    for b, m in [(0, "mor"), (1, "mor"), (2, "cow"), (3, "cow")]:
        merge_apply(spark, table, events.filter(F.col("batch_id") == b), b, mode=m)
    compact_state(spark, table)
    assert table.snapshot().properties[DELTA_PROP] == "false"
    # raw read (no dedup) must now have unique keys
    raw = table.read(spark)
    n_rows = raw.count()
    n_keys = raw.select(*KEYS).distinct().count()
    assert n_rows == n_keys
    got = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    want = df_rows(final_state_oracle(events).select(*KEYS, "lsn", "content"))
    assert got == want


def _serial_mor(spark, table, events, **kw):
    """The serial reference: one merge_apply(mode="mor") per batch."""
    bids = sorted(r[0] for r in events.select("batch_id").distinct().collect())
    return [merge_apply(spark, table, events.filter(F.col("batch_id") == b), b, mode="mor", **kw)
            for b in bids]


def test_mor_pipelined_equals_serial_replay(spark, tmp_path):
    # the write-job pipeline must be invisible in every observable: final
    # state, fence, delta flag, commit-per-batch history, and winner-stage
    # output (the bench shape). Batch 0 additionally exercises the
    # evolution fallback: the fresh table evolves its schema on the first
    # batch, so its prepare self-invalidates and the serial merge owns it.
    events = _events(spark)
    stage = [lambda df: df.withColumn("n_chars", F.length("content"))]

    t_pipe = create_cdc_table(str(tmp_path / "pipe"), KEYS, num_buckets=4)
    m_pipe = replay_events(spark, t_pipe, events, mode="mor", winner_stages=stage)

    t_ser = create_cdc_table(str(tmp_path / "ser"), KEYS, num_buckets=4)
    m_ser = _serial_mor(spark, t_ser, events, winner_stages=stage)

    cols = [*KEYS, "lsn", "lang", "content", "n_chars"]
    assert df_rows(read_state(spark, t_pipe).select(*cols)) == df_rows(
        read_state(spark, t_ser).select(*cols)
    )
    sp, ss = t_pipe.snapshot(), t_ser.snapshot()
    assert sp.properties[DELTA_PROP] == "true" and ss.properties[DELTA_PROP] == "true"
    assert sp.properties["cdc.last-batch-id"] == ss.properties["cdc.last-batch-id"]
    assert sp.version == ss.version  # one commit per batch on both paths
    assert [m.batch_id for m in m_pipe] == [m.batch_id for m in m_ser]
    assert [m.keys_in_batch for m in m_pipe] == [m.keys_in_batch for m in m_ser]
    # fenced redelivery under the pipeline: a second replay is a no-op
    m2 = replay_events(spark, t_pipe, events, mode="mor", winner_stages=stage)
    assert m2 == [] and t_pipe.snapshot().version == sp.version


def test_failed_speculative_prepare_falls_back_to_serial_merge(spark, tmp_path, monkeypatch):
    # a look-ahead prepare that RAISES is not a replay failure: the batch
    # runs through the serial merge, exactly like a refused prepare
    import docetl_spark.cdc.merge as merge_mod

    events = _events(spark)
    real = merge_mod.prepare_mor_merge
    outcome = {}

    def flaky(spark_, table, batch, batch_id, *args, **kwargs):
        if batch_id == 2:
            outcome[batch_id] = "raised"
            raise RuntimeError("speculative prepare lost its executor")
        prep = real(spark_, table, batch, batch_id, *args, **kwargs)
        outcome[batch_id] = "none" if prep is None else "prepared"
        return prep

    monkeypatch.setattr(merge_mod, "prepare_mor_merge", flaky)
    t_pipe = create_cdc_table(str(tmp_path / "pipe"), KEYS, num_buckets=4)
    m_pipe = replay_events(spark, t_pipe, events, mode="mor")
    assert outcome[2] == "raised" and outcome[3] == "prepared"

    t_ser = create_cdc_table(str(tmp_path / "ser"), KEYS, num_buckets=4)
    m_ser = _serial_mor(spark, t_ser, events)

    cols = [*KEYS, "lsn", "lang", "content"]
    assert df_rows(read_state(spark, t_pipe).select(*cols)) == df_rows(
        read_state(spark, t_ser).select(*cols)
    )
    sp, ss = t_pipe.snapshot(), t_ser.snapshot()
    assert sp.properties["cdc.last-batch-id"] == ss.properties["cdc.last-batch-id"] == "3"
    assert sp.version == ss.version
    assert [m.batch_id for m in m_pipe] == [m.batch_id for m in m_ser]


def test_empty_batch_summaries_match_across_paths(spark, tmp_path, monkeypatch):
    # a fence-only commit records the same summary keys whichever path
    # wrote it: serial MOR, pipelined MOR replay, serial CoW
    import docetl_spark.cdc.merge as merge_mod

    events = _events(spark)
    first = events.filter(F.col("batch_id") == 0)
    empty = events.filter(F.col("batch_id") == 1).limit(0)
    published = []
    real_commit = merge_mod.commit_prepared_merge

    def spy(table, prep, *args, **kwargs):
        m = real_commit(table, prep, *args, **kwargs)
        published.append(m is not None and not m.skipped)
        return m

    monkeypatch.setattr(merge_mod, "commit_prepared_merge", spy)
    summaries = {}
    for how, mode in [("mor", "mor"), ("pipelined", "mor"), ("cow", "cow")]:
        t = create_cdc_table(str(tmp_path / how), KEYS, num_buckets=4)
        # batch 0 evolves the schema, so the empty batch's prepare is usable
        merge_apply(spark, t, first, 0, mode=mode)
        if how == "pipelined":
            replay_events(spark, t, empty, mode="mor", batch_ids=[1])
        else:
            merge_apply(spark, t, empty, 1, mode=mode)
        snap = t.snapshot()
        assert snap.properties["cdc.last-batch-id"] == "1"
        summaries[how] = snap.summary
    assert published == [True]  # the pipelined empty batch took the prepare path
    assert set(summaries["mor"]) == set(summaries["pipelined"]) == set(summaries["cow"])
    assert [summaries[h]["mode"] for h in ("mor", "pipelined", "cow")] == ["mor", "mor", "cow"]
    assert all(s["keys_in_batch"] == 0 for s in summaries.values())


def test_mor_single_phase_above_broadcast_limit_matches_oracle(spark, tmp_path, monkeypatch):
    # a winner set over broadcast_key_limit takes the single-phase
    # struct-max instead of the (key, lsn) join-back; same final state
    import docetl_spark.cdc.merge as merge_mod

    events = _events(spark)
    calls = []
    real = merge_mod.dedup_last_writer

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(merge_mod, "dedup_last_writer", spy)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    metrics = _serial_mor(spark, table, events, broadcast_key_limit=1)
    assert len(calls) == len(metrics) == 4  # one struct-max per batch
    assert all(m.keys_in_batch < m.events_in for m in metrics)  # not insert-only
    monkeypatch.undo()

    got = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    want = df_rows(final_state_oracle(events).select(*KEYS, "lsn", "content"))
    assert got == want
