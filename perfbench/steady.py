"""Steadiness mode: repeat the benchmark and judge each metric's spread.

    python3 perfbench/steady.py --workloads raster_tile_job,query_mix \\
        --seeds 1-10 [--seconds 8] [--out steady.json] [--against old.json]
        [--traced]

Runs ``run.py`` once per (workload, seed), untraced, and reports for each
end-to-end metric the median, the quartiles (``statistics.quantiles``,
n=4) and the spread (IQR / median) against the metric's bound in
BENCHMARK.json. A metric whose spread exceeds its bound is reported as
unresolved: a change to it cannot be told from run-to-run noise. With
``--against``, each median is also compared with the earlier result's.
With ``--traced``, each seed also runs traced; the tracing overhead
(untraced over traced ops_per_s, per seed) and the median of every
non-zero per-layer metric are printed per workload.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def judge(runs: dict[str, list[dict]], spec: dict, against=None) -> dict:
    """{workload: {metric: stats + verdict}} from parsed run results."""
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    report = {}
    for wl, results in runs.items():
        rows = {}
        for name, m in metrics.items():
            vals = [r["metrics"][name]["value"] for r in results]
            row = spread(vals)
            row["bound"] = m["bound"]
            row["unresolved"] = row["spread"] > m["bound"]
            if against and name in against.get(wl, {}):
                old = against[wl][name]["median"]
                worse = (row["median"] - old) / old
                if m["better"] == "higher":
                    worse = -worse
                row["worse_than_before"] = worse
                row["regressed"] = worse > m["bound"]
            rows[name] = row
        report[wl] = rows
    return report


def run_once(spec, wl: str, seed: int, secs: int, trace: int):
    """One benchmark run; its parsed result line, or None on failure."""
    cmd = spec["command"] + ["--workload", wl, "--seed", str(seed),
                             "--seconds", str(secs), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    elapsed = time.perf_counter() - t0
    last = (proc.stdout.strip().splitlines() or ["{}"])[-1]
    res = json.loads(last) if last.startswith("{") else {}
    if proc.returncode or not res.get("correct"):
        print(f"{wl} seed {seed} trace {trace}: exit {proc.returncode}\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    shown = {k: v["value"] for k, v in res["metrics"].items()
             if not trace or k.startswith("trace.")}
    print(f"{wl} seed {seed} trace {trace} ({elapsed:.1f}s): "
          + " ".join(f"{k}={v:.4g}" for k, v in shown.items()), flush=True)
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    p.add_argument("--against")
    p.add_argument("--traced", action="store_true")
    a = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = a.seconds or spec["run_seconds"]
    runs: dict[str, list[dict]] = {}
    ok = True
    overhead: dict[str, list[float]] = {}
    traced: dict[str, list[dict]] = {}
    for wl in a.workloads.split(","):
        for s in seeds(a.seeds):
            res = run_once(spec, wl, s, secs, 0)
            if res is None:
                ok = False
                continue
            runs.setdefault(wl, []).append(res)
            if a.traced:
                tr = run_once(spec, wl, s, secs, 1)
                if tr is None:
                    ok = False
                    continue
                overhead.setdefault(wl, []).append(
                    res["metrics"]["ops_per_s"]["value"]
                    / tr["metrics"]["trace.ops_per_s"]["value"])
                traced.setdefault(wl, []).append(tr)
    against = json.loads(Path(a.against).read_text()) if a.against else None
    report = judge({k: v for k, v in runs.items() if len(v) >= 2}, spec,
                   against)
    for wl, rows in report.items():
        for name, r in rows.items():
            flag = "UNRESOLVED" if r["unresolved"] else "ok"
            extra = (f" vs before {r['worse_than_before']:+.3f}"
                     f"{' REGRESSED' if r['regressed'] else ''}"
                     if "worse_than_before" in r else "")
            print(f"{wl:16s} {name:20s} median {r['median']:.4g} "
                  f"q1 {r['q1']:.4g} q3 {r['q3']:.4g} spread "
                  f"{r['spread']:.3f} / bound {r['bound']} {flag}{extra}")
    for wl, ratios in overhead.items():
        print(f"{wl:16s} tracing overhead (traced/untraced op time) median "
              f"{statistics.median(ratios):.3f} over {len(ratios)} seeds")
        for name, m in traced[wl][0]["metrics"].items():
            med = statistics.median(
                t["metrics"][name]["value"] for t in traced[wl])
            if med:
                print(f"{wl:16s} layer {name:34s} median {med:.4g} "
                      f"{m['unit']}")
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
