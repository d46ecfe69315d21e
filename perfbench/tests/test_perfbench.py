"""Tests for the benchmark's own code: closed forms at tiny sizes, span
self-time arithmetic, and the profiler-file-to-module mapping.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parents[1])]

import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------- closed forms

def test_raster_source_matches_pixel_loop():
    src = inputs.RasterSource(seed=5, n=64, block=16)
    got = src.values(0, 64, 0, 64)
    for r in range(64):
        for c in range(64):
            v = (src.A * r + src.B * c + src.k) % 120 + 1
            if any(h0 <= r < h1 and w0 <= c < w1
                   for h0, h1, w0, w1 in src.holes):
                v = 0
            assert got[r, c] == v
    # a window is the same pixels as the full raster's slice
    np.testing.assert_array_equal(src.values(10, 40, 3, 50), got[10:40, 3:50])
    # one whole block is nodata, so the empty-window path runs
    assert any(h1 - h0 == 16 and w1 - w0 == 16 and h0 % 16 == 0
               and w0 % 16 == 0 for h0, h1, w0, w1 in src.holes)
    want = src.expected(0, 64, 0, 64)
    np.testing.assert_array_equal(want, np.where(got > 0, 2 * got, 0))


def test_inputs_depend_only_on_seed():
    a = inputs.RasterSource(3, 64, 16)
    b = inputs.RasterSource(3, 64, 16)
    c = inputs.RasterSource(4, 64, 16)
    assert (a.k, a.holes) == (b.k, b.holes)
    assert (a.k, a.holes) != (c.k, c.holes)
    assert inputs.documents(1, 5) == inputs.documents(1, 5)
    assert inputs.documents(1, 5) != inputs.documents(2, 5)


def test_lattice_winner_matches_sequential_paint():
    lat = inputs.Lattice(seed=9, cols=48, cell=8)
    paint = np.zeros((48, 48), dtype=np.int64)
    order = sorted(((lat.values[i, j], i, j) for i in range(lat.ni)
                    for j in range(lat.nj)))
    for v, i, j in order:  # ascending value, last wins
        paint[i * 8:(i + 2) * 8, j * 8:(j + 2) * 8] = v
    np.testing.assert_array_equal(lat.expected(), paint)


def test_lattice_winner_matches_engine_rasterize():
    from gfw_pixetl_spark.functions.rasterize_kernel import rasterize

    lat = inputs.Lattice(seed=2, cols=32, cell=4)
    feats = sorted((v, g) for _fid, v, g in lat.rings(0.0, 32.0, 1.0))
    feats = [(v, [np.asarray(r) for r in g]) for v, g in feats]
    got = rasterize(feats, (0.0, 32.0, 1.0, 1.0), (32, 32), method="value",
                    fill=0, dtype="uint16")
    np.testing.assert_array_equal(got, lat.expected())


def test_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    a = inputs.write_tables(str(tmp_path / "a"), 0.001, 7)
    inputs.write_tables(str(tmp_path / "b"), 0.001, 7)
    inputs.write_tables(str(tmp_path / "c"), 0.001, 8)
    assert a["lineitem"] == 6000 and a["documents"] == 500
    ta = pq.read_table(tmp_path / "a" / "lineitem.parquet")
    assert ta.equals(pq.read_table(tmp_path / "b" / "lineitem.parquet"))
    assert not ta.equals(pq.read_table(tmp_path / "c" / "lineitem.parquet"))


def test_panel_takes_one_query_per_stratum():
    names = [f"q{i}" for i in range(40)] + ["q392_kcore",
                                            "q72_vector_tile_job"]
    groups = workloads.strata(names, lambda n: f"pkg.m{int(n[1:]) % 4}")
    assert set(groups) == {"m0", "m1", "m2", "m3", "iterative",
                           "vector_tile"}
    fam = workloads.strata(["q1", "q2"], lambda n: "pkg." + (
        "olap" if n == "q1" else "relops"))
    assert fam == {"relational": ["q1", "q2"]}
    panel = workloads.one_per_stratum(groups, inputs.rng(0, "panel"))
    assert panel == workloads.one_per_stratum(groups, inputs.rng(0, "panel"))
    assert len(panel) == 6 and "q392_kcore" in panel
    assert "q72_vector_tile_job" in panel
    assert sorted(int(n[1:]) % 4 for n in panel
                  if n[1:].isdigit()) == [0, 1, 2, 3]


def test_codec_kernel_round_trips():
    docs = inputs.documents(4, 6)
    pdf = pd.DataFrame({"shard": [0, 1], "docs": [docs[:3], docs[3:]]})
    out = pd.concat(list(workloads.codec_kernel(iter([pdf]))))
    assert list(out["n_records"]) == [3, 3]
    assert not out["mismatches"].any() and not out["damage"].any()
    assert all(len(t) == len(workloads.CODEC_TIMERS) for t in out["timers"])


# ------------------------------------------------------- self time

def span(a, b, parent=None):
    return tracing.Span("s", a, b, parent, "op")


@pytest.mark.parametrize("intervals,lo,hi,want", [
    ([], 0, 10, 0.0),
    ([(1, 3), (5, 6)], 0, 10, 3.0),          # disjoint
    ([(1, 4), (2, 6)], 0, 10, 5.0),          # overlapping
    ([(1, 9), (2, 3), (4, 5)], 0, 10, 8.0),  # nested
    ([(-5, 2), (8, 20)], 0, 10, 4.0),        # clipped at both ends
    ([(3, 4), (3, 4)], 0, 10, 1.0),          # duplicate
    ([(11, 12)], 0, 10, 0.0),                # outside
])
def test_covered(intervals, lo, hi, want):
    assert tracing.covered(intervals, lo, hi) == pytest.approx(want)


def test_self_time_over_overlapping_children():
    parent = span(0.0, 10.0)
    kids = [span(1.0, 4.0), span(3.0, 6.0), span(9.0, 12.0)]
    # children cover [1, 6] and [9, 10] of the parent: 6 s of 10
    assert tracing.self_time(parent, kids) == pytest.approx(4.0)
    assert tracing.self_time(parent, []) == pytest.approx(10.0)


def test_op_self_times_sum_to_wall():
    op, build, action = span(0, 10), span(0, 4), span(4, 10)
    jobs_b = [span(1, 2), span(1.5, 3)]
    jobs_a = [span(5, 9), span(6, 7)]
    cover = tracing.covered([(j.start, j.end) for j in jobs_b + jobs_a],
                            op.start, op.end)
    total = (tracing.self_time(build, jobs_b)
             + tracing.self_time(action, jobs_a) + cover)
    assert total == pytest.approx(op.dur)


# ------------------------------------------------------- profiler mapping

def test_fold_profile_maps_files_to_layers():
    # the UDF profiler reports file basenames
    stats = {
        ("raster.py", 85, "__call__"): (1, 1, 0.1, 2.0, {}),
        ("geotiff.py", 333, "write_cog"): (1, 1, 0.2, 3.0, {}),
        ("geotiff.py", 40, "_helper"): (1, 1, 0.5, 0.5, {}),
        ("calc.py", 10, "apply_calc"): (1, 1, 0.3, 0.4, {}),
        ("rasterize_kernel.py", 5, "rasterize"):
            (1, 1, 0.7, 0.9, {}),
        ("raster_pipe.py", 371, "kernel"): (1, 1, 0.25, 4.0, {}),
        ("vector_pipe.py", 113, "burn"): (1, 1, 0.05, 1.0, {}),
        ("raster_meta.py", 20, "stats"): (1, 1, 0.04, 0.1, {}),
        ("_npyio_impl.py", 400, "load"): (1, 1, 0.01, 0.2, {}),
        ("npyio.py", 500, "save"): (1, 1, 0.01, 0.6, {}),
        ("~", 0, "<built-in method zlib.compress>"): (1, 1, 0.9, 0.9, {}),
        ("~", 0, "<built-in method zlib.crc32>"): (1, 1, 0.03, 0.03, {}),
        ("<frozen importlib._bootstrap>", 1, "_find_and_load"):
            (1, 1, 0.15, 0.2, {}),
        ("typing.py", 1, "f"): (1, 1, 0.02, 0.02, {}),
    }
    got = tracing.fold_profile(stats)
    assert got["sources.geotiff.read_s"] == pytest.approx(2.0)
    assert got["sources.geotiff.write_s"] == pytest.approx(3.0)
    assert got["functions.calc.self_s"] == pytest.approx(0.3)
    assert got["functions.rasterize_kernel.self_s"] == pytest.approx(0.7)
    assert got["plans.kernel_self_s"] == pytest.approx(0.3)
    assert got["sources.raster_meta.self_s"] == pytest.approx(0.04)
    assert got["plans.window_serde_s"] == pytest.approx(0.8)
    assert got["sources.geotiff.zlib_s"] == pytest.approx(0.9)
    assert got["pyworker.import_s"] == pytest.approx(0.15)
    # every entry's own time is UDF time
    assert got["pyworker.udf_s"] == pytest.approx(
        sum(v[2] for v in stats.values()))


# ------------------------------------------------------- steadiness mode

def test_spread_and_verdicts():
    import steady

    row = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert row["median"] == 3.0 and row["q1"] == 1.5 and row["q3"] == 4.5
    assert row["spread"] == pytest.approx(1.0)
    spec = {"end_to_end": [
        {"name": "ops_per_s", "unit": "1/s", "better": "higher",
         "bound": 0.1}]}
    res = [{"metrics": {"ops_per_s": {"value": v}}} for v in (9.9, 10, 10, 10.1)]
    before = {"w": {"ops_per_s": {"median": 12.0}}}
    got = steady.judge({"w": res}, spec, before)["w"]["ops_per_s"]
    assert not got["unresolved"]
    # 10/s against 12/s before, higher is better: worse by 1/6 > bound
    assert got["worse_than_before"] == pytest.approx(1 / 6)
    assert got["regressed"]
    assert steady.seeds("1-3,7") == [1, 2, 3, 7]


def test_benchmark_json_lists_the_metrics_run_prints():
    import json

    import run

    spec = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(
        workloads.WORKLOADS)
