"""The workloads. Each takes a ``Ctx`` and returns a ``Result``.

Every engine call goes through a module attribute looked up at call time
(``replay.read_state``, ``merge.merge_apply`` ...) so the traced run's
wrappers see exactly the calls the untraced run makes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

from perfbench import checks, stats
from perfbench.trace import Tracer

KEYS = checks.KEY_COLS

# operator-board queries: bench.HEADLINE's non-CDC entries, cut to one or
# two per operator module so a cold check pass plus timed passes fit a run
# (the full 35 take ~55 s cold and ~32 s warm per pass at local[4] on a
# 4-core VM)
BOARD = [
    "tpch_q1",                 # SQL aggregate
    "reduce_merge_salted",     # operators.reduce_ops
    "resolve_majority_canon",  # operators.resolve_ops
    "equijoin_verify",         # operators.join_ops
    "rank_docs",               # operators.rank_ops
    "dedup_exact_docs",        # functions.dedup
    "text_quality",            # functions.text
    "doc_chunking_macro",      # plans.macros + plans.pipeline, split/gather
]
MAX_CYCLES = 64  # bound on timed MOR cycles per run; sets the stream's id range
BOARD_TABLES = ["customer", "orders", "lineitem", "events", "documents"]

SIZES = {
    # keys = 5% of a nominal 200k-event stream (4 MOR batches)
    "default": {
        "cdc_bulk_trickle": {"batch": 50_000, "cycle_batches": 2, "keys": 10_000, "buckets": 32,
                             "trickle_batch": 5_000, "lookup_keys": 32,
                             "warm_events": 4_000, "min_batches": 3},
        "operator_board": {"scale": 1.0, "min_passes": 1},
    },
    # smoke-test size: seconds of work, same code path
    "tiny": {
        "cdc_bulk_trickle": {"batch": 1_000, "cycle_batches": 2, "keys": 400, "buckets": 4,
                             "trickle_batch": 200, "lookup_keys": 8,
                             "warm_events": 400, "min_batches": 2},
        "operator_board": {"scale": 0.05, "min_passes": 1},
    },
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    tmp: str
    size: dict
    partitions: int


@dataclass
class Result:
    # contract metrics: name -> (value, unit, samples)
    e2e: dict = field(default_factory=dict)
    # every metric the workload defines, printed by name
    lines: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    setup_end: float = 0.0
    notes: list = field(default_factory=list)

    def line(self, name, value, unit, n, extra=""):
        self.lines.append((name, value, unit, n, extra))

    def tail_line(self, name, values, unit):
        p, v = stats.tail(values)
        raw = "samples=[" + ", ".join(f"{x:.4g}" for x in values) + "]"
        if p is None:
            self.line(name, stats.median(values), unit, len(values),
                      f"p50 (fewer than {2 * stats.TAIL_BEYOND} samples) {raw}")
        else:
            self.line(name, v, unit, len(values), f"p{p} {raw}")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _meta(table_path: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(table_path, "meta", "v*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def _shape(table_path: str) -> dict:
    """Latest metadata file size and the most files any bucket holds."""
    latest = sorted(glob.glob(os.path.join(table_path, "meta", "v*.json")))[-1]
    with open(latest) as f:
        files = json.load(f)["files"]
    return {"meta_bytes": os.path.getsize(latest),
            "files_per_bucket_max": max((len(v) for v in files.values()), default=0)}


# ---------------------------------------------------------------------------


def cdc_bulk_trickle(ctx: Ctx) -> Result:
    """MOR bulk stream, then CoW trickle with read-your-write lookups, on
    one table: phase ``mor_bulk_stream`` replays 50k-event batches with the
    map stage, reads the delta-carrying state in full and compacts; phase
    ``cow_trickle`` then merges small batches over the same key space, each
    followed by a ``read_keys`` lookup of keys it wrote. Each phase gets
    half the time box after its own warm-up."""
    import bench
    from pyspark.sql import functions as F

    from docetl_spark.cdc import merge, replay
    from docetl_spark.lake.table import LakeTable
    from docetl_spark.sources.testgen import gen_change_events

    spark, sz, tr = ctx.spark, ctx.size, ctx.tracer
    res = Result()
    stage = bench._map_stage()
    per, bs = sz["cycle_batches"], sz["batch"]
    # one stream over a fixed key space; each slice is materialized to
    # parquet before it is applied, outside the timing
    stream = gen_change_events(spark, bs * per * MAX_CYCLES, n_keys=sz["keys"], batch_size=bs,
                               seed=ctx.seed, partitions=ctx.partitions)
    table = None
    paths: list[str] = []

    def binlog(df, name):
        path = os.path.join(ctx.tmp, name)
        df.repartition(ctx.partitions).write.parquet(path)  # one file per core, as a WAL tail
        paths.append(path)
        return spark.read.parquet(path), _dir_bytes(path)

    def warm_up():
        """Every code path once on a small scratch table (JIT, codegen,
        Python workers): a schema-evolving two-batch MOR replay, a full
        read, compaction, a CoW merge and a lookup. Returns the main table,
        created with the schema the scratch table evolved, so its MOR
        batches take the prepared (pipelined) path as on any table past its
        first commit."""
        n = sz["warm_events"]
        warm = replay.create_cdc_table(os.path.join(ctx.tmp, "warm_table"), KEYS, num_buckets=sz["buckets"])
        ev = gen_change_events(spark, n, n_keys=n // 5, batch_size=n // 3, seed=ctx.seed,
                               partitions=ctx.partitions)
        replay.replay_events(spark, warm, ev, winner_stages=[stage], batch_ids=[0, 1], mode="mor")
        replay.read_state(spark, warm).count()
        replay.compact_state(spark, warm)
        merge.merge_apply(spark, warm, ev.filter(F.col("batch_id") == 2), 2, winner_stages=[stage],
                          mode="cow")
        replay.read_keys(spark, warm, ev.filter(F.col("batch_id") == 2).select(*KEYS).limit(8)).collect()
        return LakeTable.create(os.path.join(ctx.tmp, "cdc_table"), warm.snapshot().schema, KEYS,
                                num_buckets=sz["buckets"], stats_cols=["lsn"])

    # -- phase mor_bulk_stream ------------------------------------------------
    replay_s, read_s, compact_s, intervals, reads = [], [], [], [], []

    def mor_cycle(ids):
        res.attempted += len(ids) + 1  # each commit and the full read
        events, in_bytes = binlog(stream.filter(F.col("batch_id").between(ids[0], ids[-1])),
                                  f"mor_binlog_{ids[0]:04d}")
        with tr.cycle(phase="mor", input_bytes=in_bytes) as ca:
            w0 = time.time()
            t0 = time.perf_counter()
            replay.replay_events(spark, table, events, winner_stages=[stage], batch_ids=ids, mode="mor")
            dt_replay = time.perf_counter() - t0
            with tr.span("action:read_state"):
                t0 = time.perf_counter()
                n_rows = replay.read_state(spark, table).count()
                dt_read = time.perf_counter() - t0
            ca.update(_shape(table.path))
            t0 = time.perf_counter()
            replay.compact_state(spark, table)
            dt_compact = time.perf_counter() - t0
        reads.append((ids[-1], n_rows))
        stamps = [w0] + [m["timestamp_ms"] / 1000.0 for m in _meta(table.path)
                         if m["summary"].get("operation") == "merge" and m["timestamp_ms"] >= w0 * 1000]
        intervals.extend(b - a for a, b in zip(stamps, stamps[1:]))
        replay_s.append(dt_replay)
        read_s.append(dt_read)
        compact_s.append(dt_compact)

    # -- phase cow_trickle ------------------------------------------------------
    commit_s, lookup_s, trickle_ids = [], [], []
    live = checks.LiveKeys()

    def lookup_keys(pdf):
        keys = sorted(set(zip(pdf["repo"], pdf["path"], pdf["commit"])))
        step = max(1, len(keys) // sz["lookup_keys"])
        return keys[::step][: sz["lookup_keys"]]

    def cow_batch(b, trickle, pdf):
        res.attempted += 2  # the commit and its lookup
        batch = trickle.filter(F.col("batch_id") == b)
        keys = lookup_keys(pdf)
        keys_df = spark.createDataFrame(keys, trickle.select(*KEYS).schema)
        with tr.cycle(phase="cow", input_bytes=trickle_bytes) as ca:
            t0 = time.perf_counter()
            merge.merge_apply(spark, table, batch, b, winner_stages=[stage], mode="cow")
            dt_c = time.perf_counter() - t0
            with tr.span("action:read_keys"):
                t0 = time.perf_counter()
                rows = replay.read_keys(spark, table, keys_df).collect()
                dt_l = time.perf_counter() - t0
            ca.update(_shape(table.path))
        trickle_ids.append(b)
        live.apply(pdf)  # trickle LSNs exceed the stream's: its keys' state is the trickle's
        if checks.lookup_rows(rows) != live.expected(keys):
            res.failed += 1
            res.notes.append(f"cow batch {b}: lookup rows differ from the live rows of its keys")
        commit_s.append(dt_c)
        lookup_s.append(dt_l)

    phase = "warm-up"
    try:
        table = warm_up()
        res.setup_end = time.perf_counter()
        phase = "mor_bulk_stream"
        c = 0
        while c < MAX_CYCLES and (not replay_s or sum(replay_s + read_s + compact_s) < ctx.seconds / 2):
            mor_cycle(list(range(c * per, (c + 1) * per)))
            c += 1

        phase = "cow_trickle"
        # the stream's continuation in smaller batches: LSNs and batch ids
        # above every MOR slice, same key space
        n_batches = max(sz["min_batches"], int(ctx.seconds / 2)) + 1
        tb = sz["trickle_batch"]
        lsn0 = bs * per * MAX_CYCLES
        trickle, trickle_bytes = binlog(
            gen_change_events(spark, lsn0 + tb * n_batches, n_keys=sz["keys"], batch_size=tb,
                              seed=ctx.seed, partitions=ctx.partitions).filter(F.col("lsn") >= lsn0),
            "cow_binlog")
        first = lsn0 // tb
        trickle_bytes /= n_batches
        fp = [*KEYS, "lsn", "op", F.sha2(F.col("content"), 256).alias("sha"), "batch_id"]
        events_pd = trickle.select(*fp).toPandas()
        for b in range(first, first + n_batches):
            if len(commit_s) >= sz["min_batches"] and sum(commit_s + lookup_s) >= ctx.seconds / 2:
                break
            cow_batch(b, trickle, events_pd[events_pd["batch_id"] == b].drop(columns="batch_id"))
    except Exception as e:  # a raised commit ends the run's timed work
        res.failed += 1
        res.notes.append(f"{phase} raised {type(e).__name__}: {e}"[:300])

    if table is None or not paths:
        return res  # the warm-up raised: nothing was measured
    # checks, outside the timed cycles: every full read's row count, then
    # the final state against the oracle over every applied event
    applied = spark.read.parquet(*paths).filter(
        (F.col("batch_id") <= (reads[-1][0] if reads else -1)) | F.col("batch_id").isin(trickle_ids))
    for (last, n_rows), want in zip(reads, checks.live_counts(applied, [r[0] for r in reads])):
        if n_rows != want:
            res.failed += 1
            res.notes.append(f"full read after batch {last}: {n_rows} rows, oracle {want}")
    res.attempted += 1
    bad = checks.state_mismatches(spark, table, applied)
    if bad:
        res.failed += 1
        res.notes.append(f"final state differs from the oracle in {bad} rows")
    if not (replay_s and commit_s):
        return res

    eps = bs * per * len(replay_s) / (sum(replay_s) + sum(compact_s))
    res.e2e = {
        "throughput_per_s": (eps, "1/s", len(replay_s)),
        "op_p50_s": (stats.median(commit_s), "s", len(commit_s)),
        "read_p50_s": (stats.median(lookup_s), "s", len(lookup_s)),
    }
    res.line("mor_bulk_stream.ingest_eps", eps, "events/s", len(replay_s))
    res.line("mor_bulk_stream.replay_s", stats.median(replay_s), "s", len(replay_s))
    res.line("mor_bulk_stream.compact_s", stats.median(compact_s), "s", len(compact_s))
    res.line("mor_bulk_stream.commit_p50_s", stats.median(intervals), "s", len(intervals))
    res.tail_line("mor_bulk_stream.commit_tail_s", intervals, "s")
    res.line("mor_bulk_stream.mor_read_s", stats.median(read_s), "s", len(read_s))
    res.line("cow_trickle.ingest_eps", sz["trickle_batch"] * len(commit_s) / sum(commit_s), "events/s",
             len(commit_s))
    res.line("cow_trickle.commit_p50_s", stats.median(commit_s), "s", len(commit_s))
    res.tail_line("cow_trickle.commit_tail_s", commit_s, "s")
    res.line("cow_trickle.lookup_p50_s", stats.median(lookup_s), "s", len(lookup_s))
    res.tail_line("cow_trickle.lookup_tail_s", lookup_s, "s")
    return res


def operator_board(ctx: Ctx) -> Result:
    import __spark_entry__ as entry

    from perfbench import boardgen

    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    tables = os.path.join(ctx.tmp, "board_tables")
    boardgen.generate(tables, ctx.seed, ctx.size["scale"])
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = checks.duckdb_views(tables, BOARD_TABLES)

    # set-up: one warm-up pass that is also the oracle check of every query
    ok = {}
    for q in BOARD:
        res.attempted += 1
        try:
            got = qs[q](spark, tables).toPandas()
            ok[q], why = checks.query_matches(got, con.execute(oracles[q]).fetchdf())
        except Exception as e:
            ok[q], why = False, f"raised {type(e).__name__}: {e}"
        if not ok[q]:
            res.failed += 1
            res.notes.append(f"{q}: {why}"[:300])
    con.close()
    # a second, noop-sink pass: the first warm pass after the cold one still
    # ran 10-25% slower than later passes, by a margin that varied per run
    for q in BOARD:
        try:
            qs[q](spark, tables).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # counted when the timed pass raises
    res.setup_end = time.perf_counter()

    samples: dict[str, list[float]] = {q: [] for q in BOARD}
    measured = 0.0
    # a fixed minimum of passes: a time box alone gives fast runs more and
    # warmer passes, which splits the medians into two groups
    while len(samples[BOARD[0]]) < ctx.size["min_passes"] or measured < ctx.seconds:
        with tr.cycle(phase="board"):
            for q in BOARD:
                res.attempted += 1
                with tr.span(f"query:{q}"):
                    t0 = time.perf_counter()
                    try:
                        qs[q](spark, tables).write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        res.failed += 1
                        res.notes.append(f"{q} raised {type(e).__name__}: {e}"[:300])
                    dt = time.perf_counter() - t0
                samples[q].append(dt)
                measured += dt

    passes = len(samples[BOARD[0]])
    per_query = [t for ts in samples.values() for t in ts]
    board_s = sum(stats.median(ts) for ts in samples.values())
    res.e2e = {
        "throughput_per_s": (len(per_query) / sum(per_query), "1/s", len(per_query)),
        "op_p50_s": (board_s, "s", passes),
        "read_p50_s": (stats.median(per_query), "s", len(per_query)),
    }
    res.line("board_s", board_s, "s", passes)
    res.line("query_p50_s", stats.median(per_query), "s", len(per_query))
    res.tail_line("query_tail_s", per_query, "s")
    for q, ts in samples.items():
        res.line(f"query.{q}_s", stats.median(ts), "s", len(ts))
    return res


WORKLOADS = {
    "cdc_bulk_trickle": cdc_bulk_trickle,
    "operator_board": operator_board,
}
