"""End-to-end tile pipeline test — the Spark twin of the reference's
golden transform tests (gfw_pixetl tests/test_raster_src_tile.py:36-78):
run a layer, read back the written tiles, assert exact arrays, profile,
and status accounting."""

from __future__ import annotations

import json

import numpy as np
import pytest

from gfw_pixetl_spark.grids import LatLngGrid, WebMercatorGrid
from gfw_pixetl_spark.models import LayerModel
from gfw_pixetl_spark.plans import raster_pipe as rp
from gfw_pixetl_spark.sources.raster import SyntheticReader
from gfw_pixetl_spark.sources.geotiff import read_tile


def make_layer(**overrides) -> LayerModel:
    base = dict(
        dataset="test_ds", version="v1", source_type="raster",
        pixel_meaning="value", data_type="uint8", grid="10/40000",
        calc="A*2", no_data=0, source_uri=["memory://synthetic"],
    )
    base.update(overrides)
    return LayerModel(**base)


def make_pipe(tmp_path, grid, **layer_overrides) -> rp.RasterPipe:
    return rp.RasterPipe(
        layer=make_layer(**layer_overrides),
        reader=SyntheticReader(xres=grid.xres, yres=grid.yres),
        work_dir=str(tmp_path),
        grid=grid,
    )


def expected_tile(bounds, grid, band_count=1):
    """Golden output: synthetic source values *2, masked->0, uint8."""
    reader = SyntheticReader(xres=grid.xres, yres=grid.yres)
    arr = reader(
        [], (bounds.left, bounds.bottom, bounds.right, bounds.top),
        (grid.rows, grid.cols), band_count,
    )
    return np.ma.filled(arr * 2, 0).astype("uint8")


def test_pipe_end_to_end(spark, tmp_path):
    grid = LatLngGrid(10, 160)  # 160x160 px tiles, single 160-px block
    pipe = make_pipe(tmp_path, grid)
    files = [
        {"uri": "memory://a", "band": 1,
         "left": 0.0, "bottom": -10.0, "right": 10.0, "top": 10.0},
    ]
    status = pipe.run(
        spark, files, subset=["00N_000E", "10N_000E", "20N_020E"]
    )
    rows = {r.tile_id: r for r in status.collect()}
    # 20N_020E doesn't intersect the file footprint -> pruned before the
    # kernel ever runs; the two intersecting tiles process fully.
    assert set(rows) == {"00N_000E", "10N_000E"}
    assert all(r.status == "processed" for r in rows.values())
    assert all(r.n_windows == 1 for r in rows.values())

    for tid, r in rows.items():
        data, profile = read_tile(r.out_path)
        bounds = grid.get_tile_bounds(tid)
        np.testing.assert_array_equal(data, expected_tile(bounds, grid))
        assert profile["dtype"] == "uint8"
        assert profile["count"] == 1
        assert profile["nodata"] == 0
        assert profile["blockxsize"] == grid.blockxsize
        assert profile["crs"] == "EPSG:4326"
        assert profile["compress"] == "DEFLATE"


def test_pipe_skips_existing(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(
        spark, files, subset=["10N_000E"], existing_tile_ids=["10N_000E"]
    )
    assert status.collect() == []  # incremental skip removed the only tile


class PatchyReader(SyntheticReader):
    """Fails west of Greenwich, reads nothing but nodata south of the
    equator, and reads the synthetic source elsewhere."""

    def __call__(self, uris, bounds, shape, band_count):
        if bounds[0] < 0:
            raise IOError("synthetic read failure")
        if bounds[3] <= 0:
            return np.ma.masked_all((band_count, *shape), dtype="int64")
        return super().__call__(uris, bounds, shape, band_count)


def test_status_accounting(spark, tmp_path):
    """One run covers every status the sink accounts for: a pruned tile
    whose windows are all empty is skipped with no windows and no path,
    an existing tile is absent, a tile with a failing window is failed,
    and every pruned tile has exactly one status row."""
    grid = LatLngGrid(10, 544)  # 2x2 windows per tile
    pipe = rp.RasterPipe(
        layer=make_layer(),
        reader=PatchyReader(xres=grid.xres, yres=grid.yres),
        work_dir=str(tmp_path),
        grid=grid,
    )
    files = [{"uri": "m://a", "band": 1,
              "left": -10.0, "bottom": -10.0, "right": 10.0, "top": 20.0}]
    status = pipe.run(
        spark, files,
        subset=["10N_000E", "10N_010W", "00N_000E", "20N_000E"],
        existing_tile_ids=["20N_000E"],
    )
    rows = status.collect()
    assert sorted(r.tile_id for r in rows) == [
        "00N_000E", "10N_000E", "10N_010W"]
    by_id = {r.tile_id: r for r in rows}

    done = by_id["10N_000E"]
    assert done.status == "processed" and done.n_windows == 4
    data, _ = read_tile(done.out_path)
    np.testing.assert_array_equal(
        data, expected_tile(grid.get_tile_bounds("10N_000E"), grid))

    empty = by_id["00N_000E"]
    assert empty.status == "skipped (has no data)"
    assert empty.n_windows == 0 and empty.out_path is None

    bad = by_id["10N_010W"]
    assert bad.status.startswith("failed - OSError")
    assert bad.out_path is None


def test_multiband_calc(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(
        tmp_path, grid,
        calc="np.ma.array([A, B, A+B])", band_count=3, no_data=[0, 0, 0],
    )
    # reader yields 3 input bands? band_count drives both input and output
    # here (like the reference's multi-in multi-out RGB test)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].status == "processed"
    data, _ = read_tile(rows[0].out_path)
    assert data.shape == (3, 160, 160)
    # band 3 = A+B with mask union filled by 0
    reader = SyntheticReader(xres=grid.xres, yres=grid.yres)
    bounds = grid.get_tile_bounds("10N_000E")
    src = reader([], (bounds.left, bounds.bottom, bounds.right, bounds.top),
                 (160, 160), 3)
    expected = np.ma.filled(
        np.ma.array([src[0], src[1], src[0] + src[1]]), 0
    ).astype("uint8")
    np.testing.assert_array_equal(data, expected)


def test_window_alignment_across_windows(spark, tmp_path):
    """Multi-window tiles must assemble seamlessly (C5 alignment)."""
    # 544px tile: largest block divisor <=512 is 272 -> 2x2 windows
    grid = LatLngGrid(10, 544)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=["10N_000E"])
    rows = status.collect()
    assert len(rows) == 1 and rows[0].n_windows == 4
    data, _ = read_tile(rows[0].out_path)
    bounds = grid.get_tile_bounds("10N_000E")
    np.testing.assert_array_equal(data, expected_tile(bounds, grid))


def test_manifest(spark, tmp_path):
    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": -10.0, "right": 10.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=["00N_000E", "10N_000E"])
    tiles = rp.seed_tiles(spark, grid)
    m = rp.manifest(status, tiles)
    assert len(m["tiles"]["features"]) == 2
    ext = m["extent"]["geometry"]["coordinates"][0]
    xs = [p[0] for p in ext]
    ys = [p[1] for p in ext]
    assert min(xs) == 0.0 and max(xs) == 10.0
    assert min(ys) == -10.0 and max(ys) == 10.0


def test_seed_tiles_matches_grid(spark):
    g = LatLngGrid(10, 160)
    df = rp.seed_tiles(spark, g)
    got = {r.tile_id for r in df.collect()}
    assert got == g.get_tile_ids()
    r = df.filter(df.tile_id == "10N_000E").collect()[0]
    assert (r.tile_left, r.tile_bottom, r.tile_right, r.tile_top) == (
        0.0, 0.0, 10.0, 10.0
    )


def test_seed_tiles_offset_grid(spark):
    g = LatLngGrid(8, 160)  # offset grid (tiles straddle equator/meridian)
    df = rp.seed_tiles(spark, g)
    got = {r.tile_id for r in df.collect()}
    assert got == g.get_tile_ids()


def test_seed_tiles_wm(spark):
    g = WebMercatorGrid(10)
    df = rp.seed_tiles(spark, g)
    rows = {r.tile_id: r for r in df.collect()}
    assert set(rows) == g.get_tile_ids()
    for tid in ("000R_000C", "003R_003C"):
        bb = g.get_tile_bounds(tid)
        r = rows[tid]
        assert abs(r.tile_left - bb.left) < 1e-6
        assert abs(r.tile_top - bb.top) < 1e-6


def test_gdal_geotiff_secondary_copy(spark, tmp_path):
    """DstFormat.gdal_geotiff (tiles/tile.py:125-137): same pixels,
    higher compression, parallel directory tree."""
    import os

    from gfw_pixetl_spark.sources.geotiff import GeoTiff

    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid,
                     dst_formats=("geotiff", "gdal-geotiff"))
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    rows = pipe.run(spark, files, subset=["10N_000E"]).collect()
    assert rows[0].status == "processed"
    primary = rows[0].out_path
    secondary = primary.replace("/geotiff/", "/gdal-geotiff/")
    assert os.path.isfile(secondary)
    a, pa = read_tile(primary)
    b, pb = read_tile(secondary)
    np.testing.assert_array_equal(a, b)
    # the copy carries the predictor+max-deflate profile: never larger
    assert os.path.getsize(secondary) <= os.path.getsize(primary)
    assert GeoTiff.open(secondary).predictor == 2


def test_boolean_layer_writes_real_ccittfax4(tmp_path, spark):
    """Boolean layers carry the reference's NBITS=1 + CCITTFAX4 profile
    (gfw_pixetl/data_type.py:122-124) — since the T.6 codec landed, the
    output is genuinely fax-coded, not a NONE fallback, and reads back
    exactly."""
    from gfw_pixetl_spark.grids import grid_factory
    from gfw_pixetl_spark.sources.geotiff import GeoTiff, read_tile

    grid = grid_factory("1/4000")
    pipe = rp.RasterPipe(
        layer=make_layer(data_type="boolean", calc="A>5", no_data=0,
                         grid="1/4000"),
        reader=SyntheticReader(xres=grid.xres, yres=grid.yres),
        work_dir=str(tmp_path),
        grid=grid,
    )
    files = [{"uri": "memory://b", "band": 1, "left": 10.0, "bottom": 40.0,
              "right": 11.0, "top": 41.0}]
    rows = [r for r in pipe.run(spark, files).collect()
            if r.status == "processed"]
    assert rows
    t = GeoTiff.open(rows[0].out_path)
    assert t.compression == 4  # CCITTFAX4
    assert t.bits_per_sample == 1
    arr, profile = read_tile(rows[0].out_path)
    assert profile["compress"] == "CCITTFAX4"
    assert set(np.unique(np.ma.getdata(arr))) <= {0, 1}
