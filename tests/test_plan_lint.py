"""Registry-wide plan lint: every harness query's optimized plan is free
of cartesian products, row-at-a-time Python UDFs, and fact-scale
single-partition funnels — or carries an explicit, justified exemption
in tools/plan_lint.py. The generalization of the hand-picked audits in
test_plans.py to ALL queries, so a new query can't silently regress the
scale discipline.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from gfw_pixetl_spark import harness
from tests.conftest import SF_SMOKE
from tools.plan_lint import EXEMPTIONS, lint_plan


@pytest.mark.parametrize("name", sorted(harness.QUERIES))
def test_plan_is_clean(name, spark):
    df = harness.QUERIES[name](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    flags = lint_plan(name, buf.getvalue())
    exempt = EXEMPTIONS.get(name, {})
    bad = {rule: msg for rule, msg in flags.items() if rule not in exempt}
    assert not bad, f"{name}: {bad} (add a justified exemption or fix the plan)"


def test_dup_sink_flags_a_second_writer(spark, tmp_path):
    """DUP_SINK fires when the tile writer's UDF is planned twice (each
    copy rewrites every tile) and stays quiet on RasterPipe.run."""
    from gfw_pixetl_spark.grids import LatLngGrid
    from tests.test_raster_pipe import make_pipe

    grid = LatLngGrid(10, 160)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": 0.0, "right": 10.0, "top": 10.0}]
    status = make_pipe(tmp_path, grid).run(spark, files, subset=["10N_000E"])

    def flags(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return lint_plan("adhoc", buf.getvalue())

    assert "DUP_SINK" not in flags(status)
    assert "DUP_SINK" in flags(status.unionByName(status))
