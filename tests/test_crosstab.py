"""One crosstab path: ``pivot_table``, the crosstab render and pivot
``height()``/``width()`` read the crosstab cells the frame fetches once
(``KevinFrame._kept_cells``), so the render's cells are ``pivot_table``'s
rows, a cell with two values raises in both, a truncated render shows the
same cells as the full table, and col headers follow Spark's sort order
on every key type (reference DataFrame.hs:128-172)."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.errors import SparkRuntimeException

from kevinlang_spark import KevinFrame
from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.render import _fmt_value, render_frame
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


# --- col order: Spark's ascending NULLS FIRST order on every key type ---

NAN, INF = float("nan"), float("inf")

#: name -> (builder, render text, pivot_table columns)
KEYED = {
    "nan_inf_neg_null_double": (
        lambda s: _kf(
            s,
            [("a", x, float(i)) for i, x in enumerate([NAN, INF, -INF, -2.5, 0.5, None, 3.0])]
            + [("b", NAN, 9.0), ("b", -2.5, 8.0)],
            "r string, c double, v double",
        ).cast(["r"], ["c"], "sum", "v"),
        [
            "  c  empty   -inf   -2      0      3    inf  nan",
            "  r                                             ",
            "  a    5.0    2.0  3.0    4.0    6.0    1.0  0.0",
            "  b  empty  empty  8.0  empty  empty  empty  9.0",
        ],
        ["r", "\x00null", "-Infinity", "-2.5", "0.5", "3.0", "Infinity", "NaN"],
    ),
    "bool_null": (
        lambda s: _kf(
            s,
            [("a", True, 1.0), ("a", False, 2.0), ("b", None, 3.0), ("b", True, 4.0)],
            "r string, c boolean, v double",
        ).cast(["r"], ["c"], "sum", "v"),
        [
            "  c  empty  False  True",
            "  r                    ",
            "  a  empty    2.0   1.0",
            "  b    3.0  empty   4.0",
        ],
        ["r", "\x00null", "false", "true"],
    ),
    "date_null": (
        lambda s: _kf(
            s,
            [("a", dt.date(2020, 3, 1), 1.0), ("a", dt.date(2019, 12, 31), 2.0),
             ("b", None, 3.0), ("c", dt.date(2020, 3, 1), 4.0)],
            "r string, c date, v double",
        ).cast(["r"], ["c"], "sum", "v"),
        [
            "  c  empty  2019-12-31  2020-03-01",
            "  r                               ",
            "  a  empty         2.0         1.0",
            "  b    3.0       empty       empty",
            "  c  empty       empty         4.0",
        ],
        ["r", "\x00null", "2019-12-31", "2020-03-01"],
    ),
    "negative_ints": (
        lambda s: _kf(
            s,
            [(r, c, float(r * 10 + c)) for r in range(3) for c in (-10, -2, 0, 3, -1, 11)],
            "r int, c int, v double",
        ).cast(["r"], ["c"], "sum", "v"),
        [
            "  c    -10    -2    -1     0     3    11",
            "  r                                     ",
            "  0  -10.0  -2.0  -1.0   0.0   3.0  11.0",
            "  1    0.0   8.0   9.0  10.0  13.0  21.0",
            "  2   10.0  18.0  19.0  20.0  23.0  31.0",
        ],
        ["r", "-10", "-2", "-1", "0", "3", "11"],
    ),
    "non_latin1": (
        lambda s: _kf(
            s,
            [("a", c, float(i)) for i, c in enumerate(["中文", "é", "a", "Z", "ß", "😀", "Ω", "", None])],
            "r string, c string, v double",
        ).cast(["r"], ["c"], "sum", "v"),
        [
            "  c  empty         Z    a    ß    é   Ω  中文   😀",
            "  r                                                ",
            "  a    8.0  7.0  3.0  2.0  4.0  1.0  6.0   0.0  5.0",
        ],
        ["r", "\x00null", "", "Z", "a", "ß", "é", "Ω", "中文", "😀"],
    ),
    "two_col_fields_bool_nan": (
        lambda s: _kf(
            s,
            [("a", b, x, float(i)) for i, (b, x) in enumerate(
                [(True, NAN), (None, 1.0), (False, None), (True, -1.0), (None, NAN)])],
            "r string, b boolean, x double, v double",
        ).cast(["r"], ["b", "x"], "sum", "v"),
        [
            "  b  empty       False  True     ",
            "  x      1  nan  empty    -1  nan",
            "  r                              ",
            "  a    1.0  4.0    2.0   3.0  0.0",
        ],
        ["r", "\x00null\x1f1.0", "\x00null\x1fNaN", "false\x1f\x00null", "true\x1f-1.0", "true\x1fNaN"],
    ),
    "nan_row_keys": (
        lambda s: _kf(
            s,
            [(NAN, "p", 0.0), (NAN, "q", 1.0), (1.0, "p", 2.0), (None, "q", 3.0)],
            "x double, c string, v double",
        ).cast(["x"], ["c"], "sum", "v"),
        [
            "      c      p      q",
            "      x              ",
            "  empty  empty    3.0",
            "      1    2.0  empty",
            "    nan    0.0    1.0",
        ],
        ["x", "p", "q"],
    ),
}

#: more cells than ``frame._ROWS_BOUND``: the render reads the wide table
SHAPES["fallback_101x100"] = (
    lambda s: _kf(
        s,
        [(r, c, float(r * 1000 + c)) for r in range(101) for c in range(100)],
        "r int, c int, v double",
    ).cast(["r"], ["c"], "sum", "v"),
    100,
)
SHAPES.update({name: (build, 100) for name, (build, _, _) in KEYED.items()})


@pytest.mark.parametrize("shape", list(KEYED))
def test_col_order_of_every_key_type(spark, shape):
    build, text, cols = KEYED[shape]
    assert render_frame(build(spark)) == "\n".join(text) + "\n"
    assert build(spark).pivot_table().columns == cols


def test_crosstab_over_the_bound_renders_from_the_wide_table(spark):
    p = SHAPES["fallback_101x100"][0](spark)
    text = render_frame(p)
    assert p._cells is False
    lines = text.splitlines()
    assert len(lines) == 102
    assert lines[0].split()[:4] == ["c", "0", "1", "2"] and lines[0].split()[-1] == "99"
    assert lines[2].split()[:3] == ["0", "0.0", "1.0"]
    assert lines[-1].split()[:3] == ["99", "99000.0", "99001.0"]
    assert hashlib.sha256(text.encode()).hexdigest() == (
        "8889f29570d3de782554c4ef4525916d8e953a105365bddabcef32404f868735"
    )
    assert p.size() == (101, 100)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_render_cells_are_pivot_table_rows(spark, shape):
    build, max_rows = SHAPES[shape]
    p = build(spark)
    nr = len(p.pivot.row_fields)
    wide = p.pivot_table().collect()
    want = [[_fmt_value(v, None) for v in list(r)[nr:][:max_rows]] for r in wide[:max_rows]]
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
    # the title trees' leaf counts do not depend on the cells
    assert p.size() == (2, 1)


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
        (_year_crosstab, 2),
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
    """``pivot_table().collect()`` then a render: the one cell fetch,
    the wide table, and no job for the render."""

    def ask(p):
        p.pivot_table().collect()
        return render_frame(p)

    ask(_year_crosstab(spark))  # first-query warm-up
    jobs, _ = _jobs(spark, lambda: ask(_year_crosstab(spark)))
    assert jobs <= 6


def test_render_and_size_after_pivot_table_run_no_job(spark):
    p = _year_crosstab(spark)
    wide = p.pivot_table()
    jobs, (text, size) = _jobs(spark, lambda: (render_frame(p), p.size()))
    assert jobs == 0
    assert size == (8, 5)
    assert text == render_frame(_year_crosstab(spark))
    assert len(wide.collect()) == 8


def test_pivot_size_reads_the_kept_cells(spark):
    p = _year_crosstab(spark)
    jobs, size = _jobs(spark, p.size)
    assert 0 < jobs <= 2
    assert size == (8, 5)
    jobs, _ = _jobs(spark, lambda: (p.pivot_table(), render_frame(p)))
    assert jobs == 0


# --- aggregate is aggregate_many of one spec ---


def test_aggregate_of_a_group_key_names_the_duplicate(simple_frame):
    with pytest.raises(KevinValueError, match="duplicate output column 'gender'"):
        simple_frame.groupby(["gender"]).aggregate("max", "gender")
