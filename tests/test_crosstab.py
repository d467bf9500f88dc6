"""One crosstab path: ``pivot_table`` and the crosstab render both read
``KevinFrame._crosstab``, so the render's cells are ``pivot_table``'s
rows, a cell with two values raises in both, and a truncated render
shows the same cells as the full table (reference DataFrame.hs:128-172)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.errors import SparkRuntimeException

from kevinlang_spark import KevinFrame
from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.render import _fmt_cell, render_frame
from test_csv_cache import _jobs

MANY = "many values for the same index"


def _kf(spark, rows, schema):
    return KevinFrame.from_df(spark.createDataFrame(rows, schema))


def _body_cells(text: str, p, ncells: int) -> list[list[str]]:
    """The cell tokens of each body line of a rendered crosstab (cells
    are never blank, and these tests' values hold no spaces)."""
    skip = len(p.pivot.col_fields) + (1 if p.pivot.row_fields else 0)
    return [line.split()[-ncells:] for line in text.splitlines()[skip:]]


# --- shapes: (builder, max_rows) ---

SHAPES = {
    "one_row_two_col_fields": (
        lambda s: _kf(
            s,
            [("a", 10, 3, 1.0), ("a", 2, 20, 2.0), ("b", 2, 3, 3.0),
             ("b", None, 20, 4.0), ("a", 10, 20, 5.0), ("b", 1, 3, 6.0)],
            "s string, c1 int, c2 int, v double",
        ).cast(["s"], ["c1", "c2"], "sum", "v"),
        100,
    ),
    "two_row_fields_one_col_field": (
        lambda s: _kf(
            s,
            [("a", 1, "x", 1.0), ("a", 2, "y", 2.0), ("b", 1, "x", 3.0),
             ("b", 1, "y", 5.0), ("c", None, "x", 4.0)],
            "a string, b int, c string, v double",
        ).cast(["a", "b"], ["c"], "sum", "v"),
        100,
    ),
    "truncated_37x23": (
        lambda s: _kf(
            s,
            [(r, c, float(r * 100 + c)) for r in range(37) for c in range(23) if (r + c) % 3],
            "r int, c int, v double",
        ).cast(["r"], ["c"], "sum", "v"),
        10,
    ),
    "bool_date_float_keys": (
        lambda s: _kf(
            s,
            [(True, dt.date(2020, 1, 2), 1.5, 1.0), (False, dt.date(2020, 1, 1), 2.5, 2.0),
             (True, dt.date(2020, 1, 1), 0.5, 3.0), (None, None, None, 4.0)],
            "b boolean, d date, f double, v double",
        ).cast(["b", "f"], ["d"], "sum", "v"),
        100,
    ),
    "no_col_fields": (
        lambda s: _kf(
            s, [("b", 1.0), ("a", 2.0), ("b", 3.0), (None, 4.0)], "s string, v double"
        ).cast(["s"], [], "sum", "v"),
        100,
    ),
    "empty": (
        lambda s: _kf(s, [], "s string, c int, v double").cast(["s"], ["c"], "sum", "v"),
        100,
    ),
    "no_row_fields": (
        lambda s: _kf(
            s, [("x", 1.0), ("y", 2.0), ("x", 3.0), (None, 4.0)], "c string, v double"
        ).cast([], ["c"], "sum", "v"),
        100,
    ),
    "neither_tree": (lambda s: _kf(s, [(7.0,)], "v double").to_pivot("v"), 100),
    "dotted_names": (
        lambda s: _kf(
            s,
            [("a", "x", 1.0), ("b", "y", 2.0), ("a", "y", 3.0)],
            "`r.f` string, `c.f` string, `v.f` double",
        ).cast(["r.f"], ["c.f"], "sum", "v.f"),
        100,
    ),
}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_render_cells_are_pivot_table_rows(spark, shape):
    build, max_rows = SHAPES[shape]
    p = build(spark)
    nr = len(p.pivot.row_fields)
    wide = p.pivot_table().collect()
    want = [[_fmt_cell(v) for v in list(r)[nr:][:max_rows]] for r in wide[:max_rows]]
    if not want or not want[0]:
        want = [["empty"]]  # an empty table renders one empty cell
    got = _body_cells(render_frame(p, max_rows=max_rows), p, len(want[0]))
    assert got == want


# --- truncated renders read the same cells as the full table ---


def test_truncated_render_shows_cells_of_null_row_keys(spark):
    p = _kf(
        spark,
        [(None, 2, "x", 4.0), ("b", None, "x", 3.0), ("a", 1, "x", 1.0),
         ("a", 2, "x", 2.0), ("b", 1, "x", 5.0), ("c", 1, "x", 6.0), ("c", 2, "x", 7.0)],
        "a string, b int, c string, v double",
    ).cast(["a", "b"], ["c"], "sum", "v")
    lines = render_frame(p, max_rows=5).splitlines()
    assert [l.split() for l in lines[2:]] == [
        ["empty", "2", "4.0"],
        ["a", "1", "1.0"],
        ["2", "2.0"],
        ["b", "empty", "3.0"],
        ["1", "5.0"],
    ]


def test_truncated_render_shows_cells_of_bool_row_keys(spark):
    p = _kf(
        spark,
        [(True, "x", 1.0), (False, "x", 2.0), (True, "y", 5.0)],
        "b boolean, c string, v double",
    ).cast(["b"], ["c"], "sum", "v")
    lines = render_frame(p, max_rows=2).splitlines()
    assert [l.split() for l in lines[2:]] == [["False", "2.0", "empty"], ["True", "1.0", "5.0"]]


# --- a cell with two values raises, in pivot_table and in the render ---


@pytest.mark.parametrize("unstack", [True, False], ids=["col_fields", "no_col_fields"])
def test_duplicate_cell_raises(spark, unstack):
    p = _kf(
        spark,
        [("F", "CD", 1.0), ("F", "CD", 2.0), ("M", "CD", 3.0)],
        "g string, p string, v double",
    ).select(["g", "p", "v"] if unstack else ["g", "v"]).to_pivot("v")
    if unstack:
        p = p.unstack("p")
    with pytest.raises(SparkRuntimeException, match=MANY):
        p.pivot_table().collect()
    with pytest.raises(KevinValueError, match=MANY):
        render_frame(p)


def test_neither_tree_with_two_rows_raises(spark):
    p = _kf(spark, [(float(i),) for i in range(5)], "v double").to_pivot("v")
    with pytest.raises(KevinValueError, match=MANY):
        render_frame(p)


# --- job counts per crosstab action ---


def _year_crosstab(spark):
    rows = [(f"s{s}", y, float(s * y % 97)) for s in range(8) for y in range(2015, 2020)]
    f = _kf(spark, rows, "store string, year int, qty double")
    return f.cast(["store", "year"], [], "sum", "qty").unstack("year")


@pytest.mark.parametrize(
    "build, most",
    [
        (_year_crosstab, 6),
        (SHAPES["no_row_fields"][0], 4),
        (SHAPES["no_col_fields"][0], 4),
    ],
    ids=["year_crosstab", "no_row_fields", "no_col_fields"],
)
def test_crosstab_render_job_count(spark, build, most):
    render_frame(build(spark))  # first-query warm-up
    jobs, _ = _jobs(spark, lambda: render_frame(build(spark), max_rows=40))
    assert jobs <= most


def test_year_crosstab_pivot_table_job_count(spark):
    _year_crosstab(spark).pivot_table().collect()  # first-query warm-up
    jobs, _ = _jobs(spark, lambda: _year_crosstab(spark).pivot_table().collect())
    assert jobs <= 8


# --- aggregate is aggregate_many of one spec ---


def test_aggregate_of_a_group_key_names_the_duplicate(simple_frame):
    with pytest.raises(KevinValueError, match="duplicate output column 'gender'"):
        simple_frame.groupby(["gender"]).aggregate("max", "gender")
