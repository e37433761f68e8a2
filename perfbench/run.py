"""Layered CDC benchmark: one workload per run, from the repository root.

    python3 perfbench/run.py --workload cdc_bulk_trickle --seed 1 --seconds 3 --trace 0

Runs the unmodified engine on ``local[N]`` (N = cores, shuffle partitions
= N) as a closed loop: each batch, lookup or query starts only after the
previous one returned. Outputs are checked against oracles in every run.
Every metric is printed as ``perfbench <workload> <metric> = <value>
<unit> n=<samples>``; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics from spans with ``--trace 1``).

All tables, binlogs, Spark scratch and temp files live under one temp
root inside the checkout (``TMPDIR`` points there) that is removed at exit.
Before it exits, a run ends its JVM and waits for it and every Python
worker to exit, so no process of one run is alive when the next starts.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

DRIVER_MEM = "2g"
# the JVM heap starts at 1g (it stays free to grow to DRIVER_MEM): from the
# default 1/64 of RAM, G1 grew it to 0.7 or 1 GB by GC timing, which split
# peak_rss_mb into two groups 0.4 GB apart from run to run
INITIAL_HEAP = "1g"
TMP_PARENT = ".perfbench_tmp"
SPANS_DIR = ".perfbench_spans"
# engine tuning knobs: the benchmark measures shipped defaults
KNOB_PREFIXES = ("SPARK_GRAFT_MOR_", "SPARK_GRAFT_COW_", "SPARK_GRAFT_BATCH_PERSIST_")
REQUIRED = ("docetl_spark/__init__.py", "__spark_entry__.py", "bench.py", "tools/compare_oracle.py")

sys.path.insert(0, os.getcwd())  # the checkout root: the engine and this package
from perfbench import layers, workloads  # noqa: E402
from perfbench.trace import Tracer, install  # noqa: E402


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_hwm_kb("self") + _hwm_kb(jvm)) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(timeout: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until every process below this one
    (the JVM and the Python workers it forked) has exited: nothing of the
    run outlives it, also when the session failed to start."""
    context = sys.modules.get("pyspark.context")
    gateway = context and context.SparkContext._gateway
    if gateway is None:
        return
    try:
        if context.SparkContext._active_spark_context is not None:
            context.SparkContext._active_spark_context.stop()
    finally:
        tree = _descendants(os.getpid())
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in tree:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + timeout
            while any(_alive(p) for p in tree) and time.monotonic() < deadline:
                time.sleep(0.05)


def _clear_stale(parent: str) -> None:
    """Remove temp roots left by runs that were killed before cleanup."""
    for d in os.listdir(parent):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _environment(root: str, tmp: str, cores: int) -> dict:
    dropped = sorted(k for k in os.environ if k.startswith(KNOB_PREFIXES))
    for k in dropped:
        del os.environ[k]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cores),
        # Python workers (pandas UDFs) import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    return {"cores": cores, "driver_mem": DRIVER_MEM, "initial_heap": INITIAL_HEAP,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"], "knobs_unset": dropped}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", choices=("default", "tiny"))
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}", file=sys.stderr)
        return 2

    # a terminated run still removes its temp root and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    parent = os.path.join(root, TMP_PARENT)
    os.makedirs(parent, exist_ok=True)
    _clear_stale(parent)
    tmp = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        cores = len(os.sched_getaffinity(0))
        env = _environment(root, tmp, cores)

        from docetl_spark.session import get_spark

        spark = get_spark(
            master=f"local[{cores}]", shuffle_partitions=cores, app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms{INITIAL_HEAP}",
            },
        )
        run_id = uuid.uuid4().hex[:8]
        tracer = Tracer(args.workload, run_id, enabled=bool(args.trace), spark=spark)
        if args.trace:
            install(tracer)
        ctx = workloads.Ctx(spark=spark, seed=args.seed, seconds=args.seconds, tracer=tracer,
                            tmp=tmp, size=workloads.SIZES[args.size][args.workload],
                            partitions=cores)
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark)
        tracer.uninstall()

        w = args.workload
        print(f"perfbench {w} environment {json.dumps(env)} size={json.dumps(ctx.size)} "
              f"seed={args.seed} trace={args.trace}")
        for note in res.notes:
            print(f"perfbench {w} FAILED {note}")
        frac = res.failed / res.attempted if res.attempted else 1.0
        print(f"perfbench {w} failed_frac = {frac:.6g} ratio n={res.attempted}")
        if args.trace:
            values, bases = layers.per_layer(tracer.spans)
            for name, unit in layers.UNITS.items():
                print(f"perfbench {w} {name} = {values[name]:.6g} {unit} {bases.get(name, '')}".rstrip())
            metrics = layers.json_metrics(values, values["cycle.wall_s"])
            tracer.dump(os.path.join(root, SPANS_DIR, f"{w}-seed{args.seed}-{run_id}.jsonl"))
        else:
            setup_s = res.setup_end - T_START
            res.line("setup_s", setup_s, "s", 1)
            res.line("peak_rss_mb", rss, "MB", 1)
            for name, value, unit, n, extra in res.lines:
                print(f"perfbench {w} {name} = {value:.6g} {unit} n={n} {extra}".rstrip())
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in res.e2e.items()}
            if metrics:  # otherwise the workload raised before its timed work
                metrics["setup_s"] = {"value": setup_s, "unit": "s"}
                metrics["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        print(json.dumps({"correct": res.failed == 0 and bool(res.e2e), "attempted": res.attempted,
                          "failed": res.failed, "metrics": metrics}))
        return 0
    finally:
        stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run's temp root is still there


if __name__ == "__main__":
    sys.exit(main())
