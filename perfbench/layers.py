"""Per-layer metrics of a traced run, from its spans.

Every count and byte value is per timed cycle (one CoW batch with its
lookup, one MOR replay/read/compaction, one board pass), so runs that fit
a different number of cycles into their time box stay comparable. Trace
coverage is reported per phase: MOR cycles run prepares on helper threads,
so their coverage exceeds 1 by the overlap. Layers a workload
does not reach read 0. Every name in ``LAYER_METRICS`` is reported by
every workload.
"""

from __future__ import annotations

from perfbench.trace import Span, children_of, coverage, descendants
from perfbench.workloads import BOARD

PHASES = ("mor", "cow", "board")  # the ``phase`` attribute of cycle spans

# Time layers, in seconds per cycle under the names used in the printed
# lines. The JSON result carries each as its share of the cycles' wall
# time (``<name>_share``, unit ratio): layers a workload never reaches
# then read a true 0 share instead of a constant 0-second time.
TIME_LAYERS = [
    "replay.wall_s", "compact.wall_s", "read.state_s", "read.keys_s",
    "merge.prepare_s", "merge.commit_prepared_s", "merge.apply_s",
    "merge.stats_job_s", "merge.write_job_s", "merge.driver_residual_s",
    "lake.write_files_s", "lake.commit_s", "lake.snapshot_s",
    *[f"op.{q}_s" for q in BOARD],
]
OTHER_LAYERS = [
    # (name, unit, better)
    ("compact.bytes_rewritten", "bytes", "lower"),
    ("merge.prepare_n", "count", "lower"),
    ("merge.prepare_fallback_n", "count", "lower"),
    ("merge.prepare_useful_ratio", "ratio", "higher"),
    ("merge.apply_n", "count", "lower"),
    ("lake.files_written", "count", "lower"),
    ("lake.bytes_written", "bytes", "lower"),
    ("lake.write_amp", "ratio", "lower"),
    ("lake.commit_n", "count", "lower"),
    ("lake.commit_conflicts", "count", "lower"),
    ("lake.snapshot_n", "count", "lower"),
    ("lake.meta_bytes", "bytes", "lower"),
    ("lake.files_per_bucket_max", "count", "lower"),
    ("spark.jobs_per_commit", "count", "lower"),
    ("spark.tasks_per_commit", "count", "lower"),
    ("trace.coverage_mor", "ratio", "higher"),
    ("trace.coverage_cow", "ratio", "higher"),
    ("trace.coverage_board", "ratio", "higher"),
    ("trace.overhead", "ratio", "lower"),
]


def share_name(name: str) -> str:
    return name[:-2] + "_share"


# what the traced run's JSON reports: (name, unit, better)
LAYER_METRICS = [(share_name(n), "ratio", "lower") for n in TIME_LAYERS] + OTHER_LAYERS
# everything the traced run prints, by name
UNITS = {**{n: "s" for n in TIME_LAYERS}, **{n: u for n, u, _ in OTHER_LAYERS}, "cycle.wall_s": "s"}


def per_layer(spans: list[Span]) -> tuple[dict[str, float], dict[str, str]]:
    """(metric -> value, metric -> base note) over the spans under cycles,
    keyed by the printed names (time layers in seconds per cycle)."""
    kids = children_of(spans)
    cycles = [s for s in spans if s.name == "cycle"]
    n = max(1, len(cycles))
    timed = [d for c in cycles for d in descendants(c, kids)]

    def named(name):
        return [s for s in timed if s.name == name]

    def total(name):
        return sum(s.dur for s in named(name))

    def attr_sum(ss, key):
        return sum(s.attrs.get(key) or 0 for s in ss)

    applies, prepares = named("merge_apply"), named("prepare_mor_merge")
    commits_prepared = named("commit_prepared_merge")
    writes, lake_commits = named("write_bucket_files"), named("commit")
    compact_writes = [w for c in named("compact_state") for w in descendants(c, kids)
                      if w.name == "write_bucket_files"]
    published = sum(1 for s in commits_prepared if s.attrs.get("published"))
    applied = sum(1 for s in applies if not s.attrs.get("skipped") and "error" not in s.attrs)
    fallbacks = (sum(1 for s in prepares if s.attrs.get("none"))
                 + sum(1 for s in commits_prepared if s.attrs.get("fallback")))
    residual = sum(
        a.dur - (a.attrs.get("stats_s") or 0) - (a.attrs.get("write_s") or 0)
        - sum(d.dur for d in descendants(a, kids) if d.name == "commit")
        for a in applies
    )
    in_bytes = sum(c.attrs.get("input_bytes", 0) for c in cycles)
    written = attr_sum(writes, "bytes")
    merge_commits = published + applied
    grouped = prepares + applies
    wall = sum(c.dur for c in cycles)

    out = {
        "replay.wall_s": total("replay_events") / n,
        "compact.wall_s": total("compact_state") / n,
        "compact.bytes_rewritten": attr_sum(compact_writes, "bytes") / n,
        "read.state_s": total("action:read_state") / n,
        "read.keys_s": total("action:read_keys") / n,
        "merge.prepare_s": total("prepare_mor_merge") / n,
        "merge.prepare_n": len(prepares) / n,
        "merge.commit_prepared_s": total("commit_prepared_merge") / n,
        "merge.prepare_fallback_n": fallbacks / n,
        "merge.prepare_useful_ratio": published / len(prepares) if prepares else 0.0,
        "merge.apply_s": total("merge_apply") / n,
        "merge.apply_n": len(applies) / n,
        "merge.stats_job_s": attr_sum(grouped, "stats_s") / n,
        "merge.write_job_s": attr_sum(grouped, "write_s") / n,
        "merge.driver_residual_s": residual / n,
        "lake.write_files_s": total("write_bucket_files") / n,
        "lake.files_written": attr_sum(writes, "files") / n,
        "lake.bytes_written": written / n,
        "lake.write_amp": written / in_bytes if in_bytes else 0.0,
        "lake.commit_s": total("commit") / n,
        "lake.commit_n": len(lake_commits) / n,
        "lake.commit_conflicts": sum(1 for s in lake_commits if s.attrs.get("error") == "CommitConflict") / n,
        "lake.snapshot_n": len(named("snapshot")) / n,
        "lake.snapshot_s": total("snapshot") / n,
        "lake.meta_bytes": sum(c.attrs.get("meta_bytes", 0) for c in cycles) / n,
        "lake.files_per_bucket_max": max((c.attrs.get("files_per_bucket_max", 0) for c in cycles), default=0),
        "spark.jobs_per_commit": attr_sum(grouped, "jobs") / merge_commits if merge_commits else 0.0,
        "spark.tasks_per_commit": attr_sum(grouped, "tasks") / merge_commits if merge_commits else 0.0,
        **{f"op.{q}_s": total(f"query:{q}") / n for q in BOARD},
        **{f"trace.coverage_{p}": coverage(spans, p) for p in PHASES},
        "trace.overhead": sum(s.attrs.get("book_s", 0) for s in timed) / wall if wall else 0.0,
        "cycle.wall_s": wall / n,
    }
    bases = {
        "merge.prepare_useful_ratio": f"{published} published / {len(prepares)} prepared",
        "lake.write_amp": f"{written} bytes written / {in_bytes} binlog bytes",
        "spark.jobs_per_commit": f"{attr_sum(grouped, 'jobs')} jobs / {merge_commits} commits",
        "spark.tasks_per_commit": f"{attr_sum(grouped, 'tasks')} tasks / {merge_commits} commits",
        **{f"trace.coverage_{p}": f"self time under {sum(1 for c in cycles if c.attrs.get('phase') == p)} "
           f"{p} cycles / their wall time" for p in PHASES},
        "trace.overhead": "tracer's own time inside the timed cycles / their wall time",
    }
    return out, bases


def json_metrics(values: dict[str, float], wall_per_cycle: float) -> dict[str, dict]:
    out = {share_name(n): {"value": values[n] / wall_per_cycle if wall_per_cycle else 0.0, "unit": "ratio"}
           for n in TIME_LAYERS}
    out.update({n: {"value": values[n], "unit": u} for n, u, _ in OTHER_LAYERS})
    return out
