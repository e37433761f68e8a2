"""Paired, interleaved A/B of the benchmark against a base revision.

    python3 tools/ab.py --base <rev> -n 10 [--workload W ...]

Checks ``<rev>`` out in a temporary ``git worktree`` (removed at exit),
then runs ``python3 perfbench/run.py --workload W --seed s --seconds S``
for N pairs, S being ``run_seconds`` from ``BENCHMARK.json``: one run in
the base checkout, one in this working tree, each a fresh process. Pair
s uses seed s on both sides, and which side runs first alternates from
pair to pair, so drift in host speed hits both sides alike.

Metrics are read from each run's ``perfbench <workload> <metric> =
<value>`` lines and its closing JSON line. Prints one JSON object: per
workload and metric, each side's median and IQR/median, how many of the
pairs the change won (direction from ``BENCHMARK.json``; null for
metrics it does not list), and the raw samples. Stdlib only: nothing of
the engine is imported.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LINE = re.compile(r"^perfbench (\S+) (\S+) = (\S+)")


def directions(spec: dict) -> dict[str, str]:
    """metric -> "higher"/"lower" from BENCHMARK.json (failed_frac: lower)."""
    out = {"failed_frac": "lower"}
    for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
        out[m["name"]] = m["better"]
    return out


def run_once(cwd: str, workload: str, seed: int, seconds: float, log_dir: str) -> dict:
    """One fresh benchmark process in ``cwd``: the metrics of its
    ``perfbench`` lines and of its closing JSON line (the contract names,
    e.g. ``throughput_per_s``, appear only there). Output goes to files,
    not pipes, so nothing waits on a pipe's EOF."""
    tag = f"{os.path.basename(cwd)}-{workload}-{seed}-{time.time_ns()}"
    out_path, err_path = (os.path.join(log_dir, f"{tag}.{ext}") for ext in ("out", "err"))
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    t0 = time.perf_counter()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = subprocess.call(cmd, cwd=cwd, stdout=out, stderr=err)
    metrics = {}
    with open(out_path) as f:
        for line in f:
            m = LINE.match(line)
            if m and m.group(1) == workload:
                try:
                    metrics[m.group(2)] = float(m.group(3))
                except ValueError:
                    pass
            elif line.startswith("{"):
                try:
                    doc = json.loads(line)
                except ValueError:
                    continue
                for name, v in (doc.get("metrics") or {}).items():
                    metrics.setdefault(name, v["value"])
    return {"exit": code, "wall_s": round(time.perf_counter() - t0, 1), "metrics": metrics}


def summary(samples: list[float]) -> dict:
    med = statistics.median(samples)
    if len(samples) >= 2:
        q1, _, q3 = statistics.quantiles(samples, n=4, method="inclusive")
        spread = (q3 - q1) / med if med else None
    else:
        spread = 0.0
    return {"median": med, "iqr_over_median": spread, "samples": samples}


def report(pairs: list[dict], better: dict[str, str]) -> dict:
    names = sorted({k for p in pairs for side in ("base", "change") for k in p[side]["metrics"]})
    out = {}
    for name in names:
        both = [(p["base"]["metrics"][name], p["change"]["metrics"][name]) for p in pairs
                if name in p["base"]["metrics"] and name in p["change"]["metrics"]]
        if not both:
            continue
        way = better.get(name)
        won = None
        if way is not None:
            won = sum(1 for b, c in both if (c > b if way == "higher" else c < b))
        out[name] = {
            "better": way,
            "change_won": won,
            "pairs": len(both),
            "base": summary([b for b, _ in both]),
            "change": summary([c for _, c in both]),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("-n", type=int, default=10, help="pairs per workload (seeds 1..n)")
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    better = directions(spec)
    # a terminated A/B still removes its worktree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp = tempfile.mkdtemp(prefix="ab-")
    worktree = os.path.join(tmp, "base")
    try:
        subprocess.check_call(["git", "-C", ROOT, "worktree", "add", "--detach", "--quiet",
                               worktree, args.base])
        rev = subprocess.check_output(["git", "-C", worktree, "rev-parse", "HEAD"], text=True).strip()
        sides = {"base": worktree, "change": ROOT}
        runs = {w: [] for w in workloads}
        for seed in range(1, args.n + 1):
            order = ("base", "change") if seed % 2 else ("change", "base")
            for w in workloads:
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = run_once(sides[side], w, seed, seconds, tmp)
                    print(f"ab: {w} seed={seed} {side} exit={pair[side]['exit']} "
                          f"wall={pair[side]['wall_s']}s", file=sys.stderr, flush=True)
                runs[w].append(pair)
        print(json.dumps({
            "base": rev,
            "pairs": args.n,
            "seconds": seconds,
            "workloads": {w: {
                "exits": {s: [p[s]["exit"] for p in ps] for s in ("base", "change")},
                "metrics": report(ps, better),
            } for w, ps in runs.items()},
        }, indent=1))
        return 0
    finally:
        subprocess.call(["git", "-C", ROOT, "worktree", "remove", "--force", worktree])
        subprocess.call(["git", "-C", ROOT, "worktree", "prune"])
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
