"""Tracer for the benchmark's traced run.

Every layer is measured from outside the program:

* spans (name, start, end, parent, op_id) recorded by the benchmark
  around its calls into the engine, kept in memory and written as JSON
  when the run ends;
* Spark jobs, stages and tasks read from the JVM status store
  (``sc._jsc.sc().statusStore()``, populated with the UI off), tagged
  with the op id through ``sc.setJobGroup``;
* Catalyst phases from the final action's ``QueryPlanningTracker``;
* Python-worker layers from the session UDF profiler
  (``spark.sql.pyspark.udf.profiler=perf``): cProfile stats per UDF,
  folded by source file into the repo's module names.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import asdict, dataclass, field
from pathlib import Path

MB = 1024 * 1024

# Spark operators whose tasks run a Python worker (op-graph scope names).
PY_OPERATOR = re.compile(r"Pandas|Python|InArrow")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return span.dur - covered(
        [(c.start, c.end) for c in children], span.start, span.end)


# ------------------------------------------------ profiler -> modules

# Per-layer rules over cProfile entries (filename, line, funcname). The
# UDF profiler reports file basenames, and each basename below is unique
# in the engine package (its path there is given). "self" sums the
# tottime of every entry in the file; "cum" takes the cumulative time of
# the named public entry point.
_CUM_ENTRY = {
    ("raster.py", "__call__"): "sources.geotiff.read_s",   # GeoTIFFReader
    ("geotiff.py", "write_cog"): "sources.geotiff.write_s",
}
_SELF_FILE = {
    "raster_meta.py": "sources.raster_meta.self_s",          # sources/
    "calc.py": "functions.calc.self_s",                      # functions/
    "rasterize_kernel.py": "functions.rasterize_kernel.self_s",
    "tfrecord.py": "sources.tfrecord.self_s",                # sources/
    "raster_pipe.py": "plans.kernel_self_s",                 # plans/
    "vector_pipe.py": "plans.kernel_self_s",
}
_NUMPY_SERDE = ("npyio.py", "_npyio_impl.py")   # np.save / np.load


def fold_profile(stats: dict) -> dict[str, float]:
    """Fold one pstats ``stats`` dict {(file, line, func): (cc, nc, tt,
    ct, callers)} into per-layer seconds. Every entry's own time counts
    as UDF time."""
    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for (fname, _line, func), (_cc, _nc, tt, ct, _callers) in stats.items():
        add("pyworker.udf_s", tt)
        base = os.path.basename(fname)
        if fname.startswith("<frozen importlib"):
            add("pyworker.import_s", tt)
        elif fname == "~" and "zlib" in func and "compress" in func:
            add("sources.geotiff.zlib_s", tt)
        elif base in _NUMPY_SERDE and func in ("save", "load"):
            add("plans.window_serde_s", ct)
        else:
            if (base, func) in _CUM_ENTRY:
                add(_CUM_ENTRY[(base, func)], ct)
            if base in _SELF_FILE:
                add(_SELF_FILE[base], tt)
    return out


# ------------------------------------------------ JVM status store

class StatusStore:
    """Reads jobs, stages and tasks from the driver's AppStatusStore,
    serialised to JSON in the JVM (one py4j round trip per call)."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._ss = sc._jsc.sc().statusStore()
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._py_stage: dict[int, bool] = {}

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._ss.jobsList(None))

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return self._json(self._ss.stageData(
            stage_id, False, self._jvm.java.util.ArrayList(), False,
            self._no_quantiles))

    def task_durations(self, stage_id: int, attempt: int) -> list[int]:
        tasks = self._json(self._ss.taskList(stage_id, attempt, 1 << 20))
        return [t["duration"] for t in tasks if t.get("duration") is not None]

    def runs_python(self, stage_id: int) -> bool:
        """True when the stage's operator graph holds a Python operator
        (MapInPandas, FlatMapGroupsInPandas, ArrowEvalPython, ...)."""
        hit = self._py_stage.get(stage_id)
        if hit is None:
            hit = False
            todo = [self._ss.operationGraphForStage(stage_id).rootCluster()]
            while todo and not hit:
                c = todo.pop()
                hit = bool(PY_OPERATOR.search(c.name()))
                kids = c.childClusters()
                todo.extend(kids.apply(i) for i in range(kids.size()))
            self._py_stage[stage_id] = hit
        return hit


def catalyst_seconds(df) -> float:
    """Sum of the QueryPlanningTracker phases (analysis, optimization,
    planning) recorded on the DataFrame's QueryExecution."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


# ------------------------------------------------ per-op ledger

@dataclass
class OpTrace:
    op_id: str
    wall_s: float
    build_s: float
    counters: dict[str, float]
    reconcile_err: float


class Tracer:
    """Collects spans and per-op layer counters for one traced pass."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = StatusStore(self.sc)
        self.spans: list[Span] = []
        self.ops: list[OpTrace] = []
        self.untagged_jobs = 0
        self._seen_jobs: set[int] = {j["jobId"] for j in self.store.jobs()}
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self._clear_profiles()

    def close(self) -> None:
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self._clear_profiles()

    def _clear_profiles(self) -> None:
        self.spark.profile.clear(type="perf")

    def _span(self, name, start, end, parent, op_id, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, op_id, attrs))
        return len(self.spans) - 1

    def record_op(self, op_id: str, t0: float, t_built: float, t_end: float,
                  final_df, build_layer: str) -> OpTrace:
        """Attach jobs/stages/tasks and UDF profiles to one finished op
        whose build ran over [t0, t_built] and action over
        [t_built, t_end] (epoch seconds)."""
        op = self._span("op", t0, t_end, None, op_id)
        build = self._span("build", t0, t_built, op, op_id)
        action = self._span("action", t_built, t_end, op, op_id)
        c: dict[str, float] = {build_layer: t_built - t0} if build_layer else {}

        # ops run one at a time on one driver thread, so every job first
        # seen after this op belongs to it; the job group says whether
        # Spark carried the op id onto the job
        mine = [j for j in self.store.jobs()
                if j["jobId"] not in self._seen_jobs]
        self._seen_jobs.update(j["jobId"] for j in mine)
        self.untagged_jobs += sum(j.get("jobGroup") != op_id for j in mine)
        job_spans = []
        longest = (-1.0, None)
        py_task_ms = 0
        for j in sorted(mine, key=lambda j: j["jobId"]):
            js = j["submissionTime"] / 1000.0
            je = j.get("completionTime", t_end * 1000.0) / 1000.0
            parent = build if js < t_built else action
            c["spark.jobs_before_action"] = (
                c.get("spark.jobs_before_action", 0) + (parent == build))
            job_spans.append(self._span(
                f"job {j['jobId']}", js, je, parent, op_id))
            c["spark.jobs"] = c.get("spark.jobs", 0) + 1
            c["spark.stages_skipped"] = (
                c.get("spark.stages_skipped", 0) + j["numSkippedStages"])
            for sid in j["stageIds"]:
                for s in self.store.stage_attempts(sid):
                    if s["status"] == "SKIPPED":
                        continue
                    c["spark.stages"] = c.get("spark.stages", 0) + 1
                    acc = {
                        "spark.tasks": s["numTasks"],
                        "spark.tasks_failed": s["numFailedTasks"],
                        "spark.task_run_s": s["executorRunTime"] / 1e3,
                        "spark.task_cpu_s": s["executorCpuTime"] / 1e9,
                        "spark.task_gc_s": s["jvmGcTime"] / 1e3,
                        "spark.shuffle_write_mb": s["shuffleWriteBytes"] / MB,
                        "spark.shuffle_read_mb": s["shuffleReadBytes"] / MB,
                        "spark.spill_mb": (s["memoryBytesSpilled"]
                                           + s["diskBytesSpilled"]) / MB,
                    }
                    for k, v in acc.items():
                        c[k] = c.get(k, 0) + v
                    if self.store.runs_python(sid):
                        py_task_ms += s["executorRunTime"]
                    if "submissionTime" in s and "completionTime" in s:
                        wall = s["completionTime"] - s["submissionTime"]
                        self._span(f"stage {sid}",
                                   s["submissionTime"] / 1e3,
                                   s["completionTime"] / 1e3,
                                   job_spans[-1], op_id,
                                   tasks=s["numTasks"])
                        if wall > longest[0]:
                            longest = (wall, (sid, s["attemptId"]))
        if longest[1] is not None:
            durs = self.store.task_durations(*longest[1])
            med = statistics.median(durs) if durs else 0
            c["spark.task_skew"] = max(durs) / med if med else 1.0
        c["spark.catalyst_s"] = catalyst_seconds(final_df)

        # the op's wall time splits into the time its jobs cover and the
        # self time of its build and action spans (the driver gap)
        jobs = [self.spans[i] for i in job_spans]
        wall = t_end - t0
        job_cover = covered([(s.start, s.end) for s in jobs], t0, t_end)
        c["spark.driver_gap_s"] = wall - job_cover
        b_self = self_time(self.spans[build],
                           [s for s in jobs if s.parent == build])
        a_self = self_time(self.spans[action],
                           [s for s in jobs if s.parent == action])
        err = abs(b_self + a_self + job_cover - wall) / wall if wall else 0.0

        profiles = self.spark._profiler_collector._perf_profile_results
        for st in profiles.values():
            for k, v in fold_profile(st.stats).items():
                c[k] = c.get(k, 0.0) + v
        self._clear_profiles()
        c["pyworker.outside_udf_s"] = max(
            0.0, py_task_ms / 1e3 - c.get("pyworker.udf_s", 0.0))
        t = OpTrace(op_id, wall, t_built - t0, c, err)
        self.ops.append(t)
        return t

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            **extra,
            "spans": [asdict(s) for s in self.spans],
            "ops": [asdict(o) for o in self.ops],
        }, indent=0) + "\n")
