"""Repo benchmark: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 20 --trace 0

Prints context lines starting with '#', then as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the run
spends half its window traced, then half untraced, and prints the per-layer
metrics, the tracing overhead, and writes the span file under
.perfbench_out/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "nt_etl_order_book_spark"
WORKLOADS = ("ingest_replay", "query_loop")
GEN_REPEATS = 3  # input generation repeats inside setup; setup_s takes their median
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment(spark=None) -> dict:
    env = {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
    }
    if spark is not None:
        env["master"] = spark.sparkContext.master
    return env


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
        except OSError:
            continue
        kb += _status_kb(pid, "VmHWM")
    return kb / 1024


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this driver and every
    process under it (the JVM, Python workers), reaped children included."""
    ticks = 0
    for pid in (os.getpid(), *_descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(tmp: str) -> None:
    """Per-run scratch for everything Spark and the package write, all
    inside the checkout; local[nproc] like a deployment on this host."""
    for sub in ("local", "index", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(tmp, "index")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # A fixed-size heap: a heap that grows on demand makes peak RSS swing
    # with GC timing from run to run.
    java_opts = shlex.quote(
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -Xms{DRIVER_MEMORY}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {java_opts} --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait(timeout=30)


def load_workload(name: str):
    if name == "ingest_replay":
        from perfbench.ingest import IngestReplay as W
    else:
        from perfbench.loop import QueryLoop as W
    return W


def measure(wl, seconds: float) -> list:
    """Passes until `seconds` have elapsed, and at least one."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        cpu0 = cpu_seconds()
        passes.append(wl.run_pass())
        passes[-1].cpu_s = cpu_seconds() - cpu0
    return passes


def end_to_end(setup_s: float, passes: list, peak_mb: float) -> tuple[dict, str]:
    """The bounded metrics, and a '#' line with the wall-clock figures.

    On a shared host the wall-clock figures move with CPU steal: over ten
    seeds their quartile spread reached 0.32 of the median, more than any
    bound a regression check can use. CPU time is not charged for steal and
    spread at most 0.12, so it is the bounded speed metric."""
    from perfbench import stats

    ops = [ms for p in passes for ms in p.op_ms]
    tail, label = stats.tail(ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (stats.median([p.cpu_s for p in passes]), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    note = (
        f"# wall: pass_s={stats.median([p.wall_s for p in passes]):.3f}"
        f" throughput_per_s={stats.median([p.throughput for p in passes]):.3f}"
        f" op_p50_ms={stats.median(ops):.1f} op_{label}_ms={tail:.1f} ops={len(ops)} passes={len(passes)}"
    )
    return metrics, note


def per_layer(wl, untraced: list, traced: list, get_spark_s: float) -> dict:
    """Every per-layer metric; a layer the workload leaves idle reads 0."""
    from perfbench import catalog, stats

    layers = {name: (0.0, unit) for name, unit in catalog.PER_LAYER}
    layers.update(wl.layers(traced))
    counters = [p.counters for p in traced]
    for name in (
        "session.spread.calls",
        "session.spread.ms",
        "session.checkpoint_frame.calls",
        "session.checkpoint_frame.ms",
        "tables.load_table_ms",
    ):
        layers[name] = (stats.median([c.get(name, 0.0) for c in counters]), layers[name][1])
    calls = sum(c.get("session.spread.calls", 0) for c in counters)
    useful = sum(c.get("session.spread.repartitioned", 0) for c in counters)
    layers["session.spread.repartitioned"] = (useful / calls if calls else 0.0, "ratio")
    layers["session.get_spark_s"] = (get_spark_s, "s")
    overhead = stats.median([p.wall_s for p in traced]) - stats.median([p.wall_s for p in untraced])
    layers["trace.overhead_ms"] = (overhead * 1000, "ms")
    if len(layers) != len(catalog.PER_LAYER):
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(set(layers) - set(dict(catalog.PER_LAYER)))}")
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    prepare_env(tmp)

    from perfbench import stats
    from perfbench.trace import Tracer, install_wrappers

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else None
    if tracer:
        install_wrappers(tracer)
    print("# start: " + json.dumps(environment()), flush=True)

    from nt_etl_order_book_spark.session import get_spark, tune_session

    workload = load_workload(args.workload)
    spark = None
    try:
        # Set-up is charged in CPU seconds, like a pass (see end_to_end);
        # the wall-clock split is printed.
        t0, cpu0 = time.perf_counter(), cpu_seconds()
        spark = tune_session(
            get_spark(f"perfbench-{args.workload}", shuffle_partitions=workload.shuffle_partitions)
        )
        get_spark_s, get_spark_cpu = time.perf_counter() - t0, cpu_seconds() - cpu0
        wl = workload(spark, tmp, args.seed, tracer)
        gen_s, gen_cpu = [], []
        for i in range(GEN_REPEATS):
            t, cpu = time.perf_counter(), cpu_seconds()
            wl.generate(i)
            gen_s.append(time.perf_counter() - t)
            gen_cpu.append(cpu_seconds() - cpu)
        t, cpu = time.perf_counter(), cpu_seconds()
        wl.warm()
        warm_s, warm_cpu = time.perf_counter() - t, cpu_seconds() - cpu
        setup_s = get_spark_cpu + stats.median(gen_cpu) + warm_cpu
        print(
            f"# setup wall: get_spark_s={get_spark_s:.3f} generate_s={[round(g, 3) for g in gen_s]}"
            f" warm_s={warm_s:.3f}; cpu: get_spark={get_spark_cpu:.2f} generate={stats.median(gen_cpu):.2f}"
            f" warm={warm_cpu:.2f}"
        )

        if tracer:
            wl.enable_tracing()
            traced = measure(wl, args.seconds / 2)
            wl.disable_tracing()
            # Untraced passes after the traced ones: passes still speed up
            # as the JIT warms, so the overhead reads high rather than low.
            untraced = measure(wl, args.seconds / 2)
            passes = traced + untraced
        else:
            passes = measure(wl, args.seconds)
        peak_mb = peak_rss_mb()
        attempted, failed, problems = wl.check(passes)
        for p in problems:
            print(f"# check failed: {p}", file=sys.stderr)
        if tracer:
            metrics = per_layer(wl, untraced, traced, get_spark_s)
            note = f"# traced passes={len(traced)} untraced passes={len(untraced)}"
        else:
            metrics, note = end_to_end(setup_s, passes, peak_mb)
        print(note)
        print("# end: " + json.dumps(environment(spark)), flush=True)
        if tracer:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{run_id}.json")
            tracer.write(span_file)
            print(f"# spans: {os.path.relpath(span_file, ROOT)}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
