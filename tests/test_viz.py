"""Visualization DSL: spec merge semantics (Language/Kevin.hs:19-27) and
Vega-Lite codegen from frame traits."""

from __future__ import annotations

import pytest

from kevinlang_spark import viz
from kevinlang_spark.errors import KevinValueError
from test_csv_cache import _jobs


def test_merge_duplicate_coord_errors():
    with pytest.raises(KevinValueError, match="coordinate already declared"):
        viz.declare(viz.Cartesian, viz.Polar)


def test_merge_duplicate_mark_errors():
    m = viz.point(viz.linear("sale"), viz.linear("cost"))
    with pytest.raises(KevinValueError, match="mark already declared"):
        viz.declare(m, m)


def test_merge_coord_and_mark_ok():
    spec = viz.declare(viz.Polar, viz.interval(viz.category("city"), viz.linear("sale")))
    assert spec.kn_coord.kind == "Polar"
    assert spec.kn_mark.kind == "interval"


def test_linear_scale_rejects_orders():
    with pytest.raises(KevinValueError, match="orders are not for linear scales"):
        viz.linear("sale", orders=["a", "b"])


def test_vega_lite_bar_chart(simple_frame):
    agg = simple_frame.groupby("city").aggregate("sum", "sale")
    spec = viz.with_frame(
        agg, viz.interval(viz.category("city"), viz.linear("sale"))
    )
    assert spec["mark"] == "bar"
    assert spec["encoding"]["x"] == {"field": "city", "type": "nominal"}
    assert spec["encoding"]["y"]["type"] == "quantitative"
    assert len(spec["data"]["values"]) == 3
    cities = {r["city"] for r in spec["data"]["values"]}
    assert cities == {"beijing", "hangzhou", "shanghai"}


def test_vega_lite_traits_drive_types(simple_frame):
    # year is Number/Dimension/Discrete → ordinal axis
    spec = viz.with_frame(
        simple_frame, viz.point(viz.linear("year"), viz.linear("sale"))
    )
    assert spec["encoding"]["x"]["type"] == "ordinal"
    assert spec["encoding"]["y"]["type"] == "quantitative"


def test_dodged_bar_gets_xoffset(simple_frame):
    agg = simple_frame.groupby(["city", "product"]).aggregate("sum", "sale")
    m = viz.dodge(
        viz.interval(
            viz.category("city"),
            viz.linear("sale"),
            viz.color(viz.category("product")),
        )
    )
    spec = viz.with_frame(agg, m)
    assert spec["encoding"]["xOffset"]["field"] == "product"


def test_polar_pie(simple_frame):
    agg = simple_frame.groupby("product").aggregate("sum", "sale")
    spec = viz.with_frame(
        agg, viz.Polar, viz.interval(viz.linear("sale"), viz.category("product"))
    )
    assert spec["mark"] == "arc"
    assert spec["encoding"]["theta"]["field"] == "sale"


def test_no_mark_errors(simple_frame):
    with pytest.raises(KevinValueError, match="no mark declared"):
        viz.with_frame(simple_frame, viz.Cartesian)


def test_vega_lite_reads_kept_rows(spark, simple_frame):
    """After ``height()`` the frame holds its rows: the spec runs no job and
    inlines the same rows a fresh frame fetches."""
    def bars():
        return simple_frame.groupby("city").aggregate("sum", "sale")

    mark = viz.interval(viz.category("city"), viz.linear("sale"))
    kept = bars()
    kept.height()
    jobs, spec = _jobs(spark, lambda: viz.with_frame(kept, mark))
    assert jobs == 0
    assert spec["data"]["values"] == viz.with_frame(bars(), mark)["data"]["values"]
