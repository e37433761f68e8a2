"""Tests of the benchmark itself: tail rule, span analysis, output contract.

    python3 -m pytest perfbench -q

The smoke tests start Spark once per workload at the tiny size.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import threading
import types

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, stats  # noqa: E402
from perfbench.trace import Span, Tracer, children_of, coverage, self_time  # noqa: E402

WORKLOADS = ["cdc_bulk_trickle", "operator_board"]


def _span(sid, name, start, end, parent=None, **attrs):
    return Span(sid, name, start, end, parent, 0, "w", "r", attrs)


# -- tail rule -----------------------------------------------------------------


@pytest.mark.parametrize("n,pct", [(10, None), (19, None), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_pct_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_pct(n) == pct
    if pct is not None:
        import math
        assert n - math.ceil(n * pct / 100) >= stats.TAIL_BEYOND
        assert n - math.ceil(n * (pct + 1) / 100) < stats.TAIL_BEYOND


def test_tail_value_interpolates():
    values = [float(v) for v in range(1, 101)]
    assert stats.tail(values) == (90, pytest.approx(90.1))
    assert stats.tail(values[:10]) == (None, None)


def test_percentile_matches_linear_interpolation():
    values = [3.0, 1.0, 4.0, 1.5, 9.0]
    assert stats.percentile(values, 0) == 1.0
    assert stats.percentile(values, 100) == 9.0
    assert stats.percentile(values, 50) == stats.median(values) == 3.0
    assert stats.percentile(values, 75) == pytest.approx(4.0)


# -- span analysis -------------------------------------------------------------


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(1, "p", 0.0, 10.0),
        _span(2, "a", 1.0, 3.0, 1),
        _span(3, "b", 2.0, 5.0, 1),   # overlaps a: union 1..5
        _span(4, "c", 7.0, 8.0, 1),
        _span(5, "d", 9.5, 12.0, 1),  # only 9.5..10 inside the parent
    ]
    kids = children_of(spans)
    assert self_time(spans[0], kids) == pytest.approx(10 - 4 - 1 - 0.5)
    assert self_time(spans[1], kids) == pytest.approx(2.0)


def test_coverage_sums_self_time_of_descendants_per_cycle():
    spans = [
        _span(1, "cycle", 0.0, 10.0, phase="cow"),
        _span(2, "merge_apply", 0.0, 6.0, 1),
        _span(3, "commit", 1.0, 2.0, 2),
        _span(4, "action:read_keys", 6.0, 9.5, 1),
        _span(5, "cycle", 20.0, 30.0, phase="cow"),
        _span(6, "merge_apply", 20.0, 30.0, 5),
        _span(7, "snapshot", 0.0, 1.0),  # outside any cycle: ignored
        _span(8, "cycle", 40.0, 44.0, phase="mor"),
        _span(9, "prepare_mor_merge", 40.0, 44.0, 8),  # helper threads overlap
        _span(10, "prepare_mor_merge", 41.0, 44.0, 8),
    ]
    assert coverage(spans, "cow") == pytest.approx((9.5 + 10.0) / 20.0)
    assert coverage(spans, "mor") == pytest.approx(7.0 / 4.0)
    assert coverage(spans, "board") == 0.0


def test_tracer_parents_nested_and_helper_thread_spans():
    tr = Tracer("w", "r")
    with tr.cycle():
        with tr.span("outer"):
            with tr.span("inner"):
                pass

        def helper():
            with tr.span("helper"):
                pass

        th = threading.Thread(target=helper)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == by["outer"].sid
    assert by["outer"].parent == by["cycle"].sid
    assert by["helper"].parent == by["cycle"].sid
    assert by["cycle"].parent is None
    assert all(s.attrs["book_s"] >= 0 for s in tr.spans)


def test_wrap_records_result_attrs_and_uninstall_restores():
    mod = types.SimpleNamespace(f=lambda x: x * 2)
    orig = mod.f
    tr = Tracer("w", "r")
    tr.patch(mod, "f", tr.wrap(orig, "f", on_result=lambda args, out, a: a.update(out=out)))
    assert mod.f(21) == 42
    assert tr.spans[-1].name == "f" and tr.spans[-1].attrs["out"] == 42
    tr.uninstall()
    assert mod.f is orig


def test_disabled_tracer_records_nothing():
    tr = Tracer("w", "r", enabled=False)
    with tr.cycle() as a:
        a["x"] = 1
        with tr.span("s"):
            pass
    assert tr.spans == []


def test_per_layer_residual_and_shares():
    spans = [
        _span(1, "cycle", 0.0, 4.0, phase="cow", input_bytes=100, meta_bytes=50, files_per_bucket_max=2),
        _span(2, "merge_apply", 0.0, 3.0, 1, stats_s=0.5, write_s=1.0, jobs=6, tasks=30),
        _span(3, "commit", 2.5, 2.75, 2),
        _span(4, "write_bucket_files", 1.0, 2.0, 2, files=4, bytes=300),
        _span(5, "action:read_keys", 3.0, 4.0, 1),
    ]
    values, _ = layers.per_layer(spans)
    assert values["merge.driver_residual_s"] == pytest.approx(3.0 - 0.5 - 1.0 - 0.25)
    assert values["lake.write_amp"] == pytest.approx(3.0)
    assert values["spark.jobs_per_commit"] == 6
    assert values["trace.coverage_cow"] == pytest.approx(1.0)
    assert values["op.tpch_q1_s"] == 0.0
    out = layers.json_metrics(values, values["cycle.wall_s"])
    assert out["merge.apply_share"]["value"] == pytest.approx(0.75)
    assert set(out) == {m[0] for m in layers.LAYER_METRICS}


# -- output contract -------------------------------------------------------------


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_match_the_code():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == WORKLOADS
    assert [m["name"] for m in b["per_layer"]] == [m[0] for m in layers.LAYER_METRICS]


def _run(workload, trace, cwd=ROOT):
    # output goes to files, not pipes: reading a pipe to its end would also
    # wait for any process that inherited it and outlived the run
    args = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
            "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        rc = subprocess.run(args, cwd=cwd, stdout=out, stderr=err, timeout=600).returncode
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(args, rc, out.read(), err.read())


def _leftovers():
    """Processes of a benchmark run: their command line or environment
    names the run's temp root (the JVM via java.io.tmpdir, Python workers
    via TMPDIR)."""
    mark = os.path.join(ROOT, ".perfbench_tmp").encode()
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/cmdline", "rb") as f, open(f"/proc/{d}/environ", "rb") as g:
                    if mark in f.read() or mark in g.read():
                        out.append(int(d))
            except OSError:
                pass
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_workload_prints_every_metric(workload):
    b = _benchmark_json()
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-2000:]
    assert not _leftovers()  # the JVM and its Python workers ended with the run
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in b["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert f"perfbench {workload} failed_frac = 0 ratio" in p.stdout


@pytest.mark.parametrize("workload,phase", [("cdc_bulk_trickle", "cow"), ("operator_board", "board")])
def test_smoke_traced_run_reports_every_layer(workload, phase):
    b = _benchmark_json()
    p = _run(workload, 1)
    assert p.returncode == 0, p.stderr[-2000:]
    assert not _leftovers()
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in b["per_layer"]}
    assert 0.95 <= out["metrics"][f"trace.coverage_{phase}"]["value"] <= 1.05
    if workload == "cdc_bulk_trickle":
        m = out["metrics"]
        assert m["merge.prepare_useful_ratio"]["value"] == 1.0  # the timed MOR batches are prepared
        assert m["merge.apply_n"]["value"] > 0 and m["read.keys_share"]["value"] > 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    p = _run("cdc_bulk_trickle", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
    assert not os.listdir(tmp_path)


def test_workloads_json_describes_the_code():
    from perfbench import workloads

    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
        doc = json.load(f)
    assert list(doc["workloads"]) == WORKLOADS
    for name, w in doc["workloads"].items():
        assert w["size"] == workloads.SIZES["default"][name]
    names = {m[0] for m in layers.LAYER_METRICS}
    assert set(doc["workloads"]["cdc_bulk_trickle"]["layers"]) <= names


def test_lookup_check_catches_missing_stale_and_duplicate_rows():
    from perfbench import checks

    live = checks.LiveKeys()
    live.apply(pd.DataFrame({
        "repo": ["r", "r", "r"], "path": ["p", "p", "q"], "commit": ["c", "c", "c"],
        "lsn": [1, 2, 3], "op": ["I", "U", "D"], "sha": ["a", "b", None],
    }))
    want = live.expected([("r", "p", "c"), ("r", "q", "c")])
    assert want == [("r", "p", "c", 2, "b")]  # the newer write wins; the delete drops q

    def row(lsn, content):
        return {"repo": "r", "path": "p", "commit": "c", "lsn": lsn, "content": content}

    good = row(2, "x")
    want = [("r", "p", "c", 2, checks.hashlib.sha256(b"x").hexdigest())]
    assert checks.lookup_rows([good]) == want
    assert checks.lookup_rows([good, good]) != want  # duplicate
    assert checks.lookup_rows([row(1, "x")]) != want  # stale
    assert checks.lookup_rows([]) != want  # missing
