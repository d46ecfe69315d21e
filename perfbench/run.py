"""Seeded tile-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload closed-loop (one driver thread, the next op starts when
the previous one returns) on ``local[<cpus>]`` for ``--seconds``, checks
every op's output, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the same ops run
traced and the per-layer metrics are reported instead. Exits 1
when an output check fails and 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "peak_worker_rss_mb": "MB",
}

# per-op means over the traced pass unless the name says otherwise
PER_LAYER = {
    "session.start_s": "s",
    "harness.build_s": "s",
    "plans.build_s": "s",
    "spark.jobs_before_action": "count",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.catalyst_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "plans.windows_planned": "count",
    "plans.windows_written": "count",
    "plans.window_yield": "ratio",
    "plans.kernel_self_s": "s",
    "plans.window_serde_s": "s",
    "pyworker.udf_s": "s",
    "pyworker.outside_udf_s": "s",
    "pyworker.import_s": "s",
    "sources.geotiff.read_s": "s",
    "sources.geotiff.write_s": "s",
    "sources.geotiff.zlib_s": "s",
    "sources.raster_meta.self_s": "s",
    "functions.calc.self_s": "s",
    "functions.rasterize_kernel.self_s": "s",
    "sources.tfrecord.self_s": "s",
    **{f"sources.{c}.{d}_s": "s" for c in ("zstd", "lz4", "snappy", "brotli")
       for d in ("encode", "decode")},
    "trace.ops": "count",
    "trace.ops_per_s": "1/s",
    "trace.reconcile_err_max": "ratio",
    "trace.jobs_untagged": "count",
}

SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ /proc probes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant, live or reaped
    (utime + stime + cutime + cstime of each live process)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class WorkerRss:
    """Samples the peak RSS (VmHWM) of the Python worker processes."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        for pid in _tree(os.getpid())[1:]:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                # the daemon and the workers it forks share its cmdline;
                # the JVM's cmdline also names pyspark, so match the module
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
            except OSError:
                continue

    def _loop(self):
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ------------------------------------------------------------ the run

def start_session(work: Path):
    from gfw_pixetl_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    started = _tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def closed_loop(spark, wl, seconds, tracer=None):
    """Run ops back to back until ``seconds`` pass, stopping only at the
    end of a whole pass of ``wl.cycle`` ops. Returns
    [(i, wall, units, out|None, err)]. Span boundaries use the epoch
    clock, the one the JVM's job timestamps use."""
    now = time.time
    sc = spark.sparkContext
    ops = []
    deadline = time.perf_counter() + seconds
    i = 0
    while i % wl.cycle or i == 0 or time.perf_counter() < deadline:
        op_id = f"{wl.name}-{i:04d}"
        sc.setJobGroup(op_id, op_id)
        t0 = now()
        p0 = time.perf_counter()
        try:
            built = wl.build(i)
            t_built = now()
            out = wl.act(built)
            wall = time.perf_counter() - p0
            t_end = now()
            ops.append((i, wall, wl.units(built, out), out, None))
            print(f"perfbench: {op_id} {wl.label(i)} {wall:.3f}s",
                  file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            ops.append((i, time.perf_counter() - p0, 0.0, None,
                        f"{type(e).__name__}: {str(e)[:300]}"))
        else:
            if tracer is not None:
                tracer.record_op(op_id, t0, t_built, t_end, built.df,
                                 wl.build_layer)
        i += 1
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return ops


def pass_throughput(ops, cycle: int) -> float:
    """Ops per second of the median pass, a pass being ``cycle`` ops in
    a row (one op for the tile and codec jobs, one whole panel for the
    query mix). The median keeps one slow op, such as the first after
    the warm-up, out of the figure."""
    walls = [sum(o[1] for o in ops[k:k + cycle])
             for k in range(0, len(ops), cycle)]
    return cycle / statistics.median(walls)


def check_ops(wl, ops) -> dict[str, list[str]]:
    """Problems per failed op id; ops with no problem are absent."""
    problems = {}
    for i, _wall, _units, out, err in ops:
        found = [err] if err is not None else wl.check(i, out)
        if found:
            problems[str(i)] = found
    return problems


def run(args, work: Path) -> tuple[dict, dict[str, list[str]], int]:
    import workloads
    from tracing import Tracer

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = start_session(work)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        gens = []
        (work / "inputs").mkdir()
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(spark, work / "inputs", args.seed)
            gens.append(time.perf_counter() - t0)
        wl.out = work / "outputs"
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + warm_s + statistics.median(gens)

        tracer = Tracer(spark) if args.trace else None
        cpu0 = tree_cpu_s()
        try:
            with WorkerRss() as rss:
                ops = closed_loop(spark, wl, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.close()
        cpu_s = tree_cpu_s() - cpu0
        problems = check_ops(wl, ops)
        good = [o for o in ops if o[4] is None]
        summary(wl, args, good, setup_s, session_s, warm_s, cpu_s / len(ops))
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": pass_throughput(ops, wl.cycle),
                "peak_worker_rss_mb": rss.peak_kb / 1024,
            }
            units = END_TO_END
        else:
            metrics = layer_metrics(wl, args, tracer, good, session_s)
            units = PER_LAYER
        return ({k: {"value": metrics.get(k, 0.0), "unit": u}
                 for k, u in units.items()}, problems, len(ops))
    finally:
        stop_session(spark)


def layer_metrics(wl, args, tracer, good, session_s) -> dict:
    """Per-op means of the traced layer counters (Spark, UDF profiles)
    and of the workload's own counts; writes the span file."""
    m: dict[str, float] = {}
    for t in tracer.ops:
        for k, v in t.counters.items():
            m[k] = m.get(k, 0.0) + v
    for i, _w, _u, out, _err in good:
        for k, v in wl.layer_counts(i, out).items():
            m[k] = m.get(k, 0.0) + v
    m = {k: v / max(1, len(tracer.ops)) for k, v in m.items()}
    if m.get("plans.windows_planned"):
        m["plans.window_yield"] = (m["plans.windows_written"]
                                   / m["plans.windows_planned"])
    m["session.start_s"] = session_s
    m["trace.ops"] = len(tracer.ops)
    m["trace.ops_per_s"] = pass_throughput(good, wl.cycle)
    m["trace.reconcile_err_max"] = max(
        (t.reconcile_err for t in tracer.ops), default=0.0)
    m["trace.jobs_untagged"] = tracer.untagged_jobs
    out = ROOT / ".perfbench_out" / f"trace_{wl.name}_s{args.seed}.json"
    tracer.write(out, {"workload": wl.name, "seed": args.seed,
                       "metrics": {k: m.get(k, 0.0) for k in PER_LAYER}})
    print(f"perfbench: spans written to {out}", file=sys.stderr)
    return m


def summary(wl, args, good, setup_s, session_s, warm_s, cpu_per_op) -> None:
    walls = sorted(o[1] for o in good)
    units = sum(o[2] for o in good)
    n = len(walls)
    line = (f"perfbench workload={wl.name} seed={args.seed} "
            f"cpus={os.environ['SPARK_GRAFT_CPUS']} samples={n} "
            f"setup_s={setup_s:.3f} (session {session_s:.3f}, "
            f"warm-up {warm_s:.3f}) {wl.unit}_per_s="
            f"{units / sum(walls) if walls else 0:.4f}"
            f" op_p50_s={statistics.median(walls) if walls else 0:.4f}"
            f" cpu_s_per_op={cpu_per_op:.3f}")
    # the highest percentile with at least ten samples beyond it
    if n >= 50:
        line += f" p80_s={walls[int(0.8 * n)]:.4f}"
    print(line, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "gfw_pixetl_spark" / "session.py").is_file():
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    # session.py sizes local[N] from this and defaults to 32 without it
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine would size the heap to a quarter of RAM (at least 8 GB);
    # the benchmark's data needs far less on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers unpickle the engine's kernels and this package's own
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    try:
        metrics, problems, attempted = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for op, found in list(problems.items())[:20]:
        print(f"perfbench: op {op} failed its check: {found[0]}",
              file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
