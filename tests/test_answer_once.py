"""A frame's answer is fetched once: the first action that reads all of a
frame's rows keeps them on the frame, so ``height()``, ``render_frame`` and
``collect()`` share one bounded collect (which counts the rows of a frame
Catalyst cannot bound).  A positional op on a bounded frame runs that one
fetch itself, and its result keeps its slice of the rows; on any other
frame it runs its own check job.  Job counts are exact
(``test_csv_cache._jobs``)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kevinlang_spark import KevinFrame, SortOrder
from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.render import render_frame
from kevinlang_spark.sources.csv import read_csv
from kevinlang_spark.sources.parquet import read_parquet
from conftest import _jvm_commands
from test_csv_cache import _backdate, _jobs, _write


def _top_cities(frame, k: int = 3):
    """filter → groupby → aggregate → sort → take(k), the shape of an
    analyst's top-k question."""
    g = frame.filter("sale", lambda c: c > 1100).groupby(["city"])
    return g.aggregate("sum", "sale").sort("sale", SortOrder.DESCENDING).take(k)


def _city_sums(frame):
    """A grouped aggregate: Catalyst cannot bound its row count."""
    return frame.groupby(["city"]).aggregate("sum", "sale")


def _unkept(kf):
    """The same frame with no rows kept: its answers run the lazy plan."""
    return kf._derive(kf.df)


def _plan_max_rows(kf):
    m = kf.df._jdf.queryExecution().optimizedPlan().maxRows()
    return m.get() if m.isDefined() else None


def test_height_then_render_runs_one_bounded_collect(spark, simple_frame):
    assert _plan_max_rows(_top_cities(simple_frame)) == 3
    want_jobs, _ = _jobs(spark, lambda: _top_cities(simple_frame).to_df().limit(3).collect())
    f = _top_cities(simple_frame)
    jobs, (height, text) = _jobs(spark, lambda: (f.height(), render_frame(f)))
    assert jobs == want_jobs
    again, (height2, text2, rows) = _jobs(
        spark, lambda: (f.height(), render_frame(f), f.collect())
    )
    assert again == 0
    fresh = _top_cities(simple_frame)
    assert height == height2 == fresh.to_df().count() == 3
    assert rows == fresh.to_df().limit(100).collect()
    assert text == text2 == render_frame(_top_cities(simple_frame))


def test_render_first_then_height_runs_no_job(spark, simple_frame):
    f = _city_sums(simple_frame)
    text = render_frame(f)
    jobs, height = _jobs(spark, f.height)
    assert jobs == 0
    assert height == 3
    assert len(text.splitlines()) == 1 + height


def test_collect_keeps_rows(spark, simple_frame):
    f = simple_frame.take(13)
    rows = f.collect()
    jobs, (height, again) = _jobs(spark, lambda: (f.height(), f.collect()))
    assert jobs == 0
    assert height == 13
    assert again == rows and again is not rows


def test_unbounded_frame_height_costs_no_job_beyond_render(spark, simple_frame):
    """maxRows unknown: height() counts inside one observed bounded fetch
    and keeps the rows, so height() plus the render cost no more jobs
    than the render's own fetch."""
    assert _plan_max_rows(_city_sums(simple_frame)) is None
    head_jobs, _ = _jobs(spark, lambda: _city_sums(simple_frame).to_df().limit(100).collect())
    f = _city_sums(simple_frame)
    jobs, (height, text) = _jobs(spark, lambda: (f.height(), render_frame(f)))
    assert jobs == head_jobs
    assert height == 3
    assert text == render_frame(_city_sums(simple_frame))


def _order_sums(spark, tmp_path, n: int):
    """A grouped frame of ``n`` groups over a CSV (maxRows unknown)."""
    body = "".join(f"{i},{i % 7}\n" for i in range(n))
    path = _write(tmp_path / "orders.csv", "order_id,qty\n" + body)
    return read_csv(spark, path).groupby(["order_id"]).aggregate("sum", "qty")


def test_height_over_bound_counts_every_row(spark, tmp_path):
    f = _order_sums(spark, tmp_path, 10_002)
    assert _plan_max_rows(f) is None
    assert f.height() == f.df.count() == 10_002
    # a count above the bound keeps nothing: the render fetches its own head
    text = render_frame(f)
    want = [float(r["order_id"]) for r in f.to_df().limit(100).collect()]
    assert [float(l.split()[1]) for l in text.splitlines()[1:]] == want
    jobs, height = _jobs(spark, f.height)
    assert jobs > 0
    assert height == 10_002


def test_height_of_empty_grouped_frame(spark, simple_frame):
    f = _city_sums(simple_frame.filter("sale", lambda c: c > 10**9))
    assert _plan_max_rows(f) is None
    assert f.height() == f.df.count() == 0
    jobs, text = _jobs(spark, lambda: render_frame(f))
    assert jobs == 0
    assert text == render_frame(_city_sums(simple_frame.filter("sale", lambda c: c > 10**9)))


def test_height_after_drop(spark, simple_frame):
    f = simple_frame.drop(5)
    assert _plan_max_rows(f) is None
    assert f.height() == f.to_df().count() == 8
    jobs, rows = _jobs(spark, f.collect)
    assert jobs == 0
    assert rows == simple_frame.drop(5).to_df().collect()


def test_unordered_frame_height_runs_count(spark, simple_frame):
    def build():
        return KevinFrame.from_df(simple_frame.to_df(), ordered=False).groupby(["city"]).aggregate("sum", "sale")

    count_jobs, count = _jobs(spark, lambda: build().df.count())
    f = build()
    jobs, height = _jobs(spark, f.height)
    assert jobs == count_jobs
    assert height == count == 3


def test_frame_above_bound_runs_todays_jobs(spark):
    def build():
        return KevinFrame.from_df(spark.range(20000)).take(10001)

    assert _plan_max_rows(build()) == 10001
    count_jobs, _ = _jobs(spark, lambda: build().df.count())
    head_jobs, _ = _jobs(spark, lambda: build().to_df().limit(100).collect())
    f = build()
    jobs, (height, text) = _jobs(spark, lambda: (f.height(), render_frame(f)))
    assert jobs == count_jobs + head_jobs
    assert height == 10001
    assert len(text.splitlines()) == 101
    # a render that found more than max_rows rows keeps nothing
    jobs, height = _jobs(spark, f.height)
    assert jobs == count_jobs
    assert height == 10001


def test_derived_frame_runs_its_own_jobs(spark, simple_csv):
    """Only a positional derivation reads its parent's rows: a select of
    a frame that holds its rows runs the jobs of a fresh frame's."""
    want, want_height = _jobs(spark, read_csv(spark, simple_csv).take(10).select(["city"]).height)
    f = read_csv(spark, simple_csv).take(10)
    f.height()
    g = f.select(["city"])
    jobs, height = _jobs(spark, g.height)
    assert jobs == want > 0
    assert height == want_height == 10


def test_stored_rows_answer_checks_and_zip_height(spark, simple_frame):
    f = simple_frame.take(5)
    g = simple_frame.drop(8).take(5)
    f.height()
    g.height()
    jobs, (tail, zipped, size) = _jobs(spark, lambda: (f.tail(), f.join(g), f.size()))
    assert jobs == 0
    assert size == (5, 7)
    assert tail.height() == 4
    assert zipped.height() == 5


@pytest.mark.parametrize("op", ["last", "init"])
def test_last_and_init_run_one_eager_job(spark, simple_csv, op):
    """On a fresh bounded frame the one eager job is its bounded fetch,
    and the result keeps its slice: height() and the render run none."""
    fetch, _ = _jobs(spark, read_csv(spark, simple_csv).take(13).to_df().limit(13).collect)
    f = read_csv(spark, simple_csv).take(13)
    jobs, out = _jobs(spark, lambda: getattr(f, op)())
    assert jobs == fetch == 1
    again, (height, text) = _jobs(spark, lambda: (out.height(), render_frame(out)))
    assert again == 0
    rows = read_csv(spark, simple_csv).take(13).to_df().collect()
    want = rows[-1:] if op == "last" else rows[:-1]
    assert out.collect() == want
    assert height == len(want)
    assert text == render_frame(_unkept(out))


@pytest.mark.parametrize("op", ["head", "tail", "init", "last"])
@pytest.mark.parametrize("fetched", [False, True])
def test_empty_frame_errors_unchanged(simple_frame, op, fetched):
    empty = simple_frame.take(0)
    if fetched:
        assert empty.height() == 0
    with pytest.raises(KevinValueError, match=f"^{op}: empty data frame$"):
        getattr(empty, op)()


def test_render_shows_the_rows_height_counted(spark, tmp_path):
    path = _write(tmp_path / "o.csv", "store,qty\n" + "".join(f"s{i},{i}\n" for i in range(6)))
    f = read_csv(spark, path).take(4)
    assert f.height() == 4
    _write(tmp_path / "o.csv", "store,qty\nzz,100\n", age_s=None)
    text = render_frame(f)
    assert [l.split()[1] for l in text.splitlines()[1:]] == ["s0", "s1", "s2", "s3"]
    assert f.height() == 4


# --- a positional op on a bounded frame fetches it once, and its result
# keeps the slice ---


def _bounded(spark, simple_csv, skip: int = 0):
    """A fresh bounded frame: 10 rows of the simple CSV from row ``skip``."""
    return read_csv(spark, simple_csv).drop(skip).take(10)


_POSITIONAL = {
    "head": lambda f, g: f.head(),
    "tail": lambda f, g: f.tail(),
    "init": lambda f, g: f.init(),
    "last": lambda f, g: f.last(),
    "take": lambda f, g: f.take(4),
    "drop": lambda f, g: f.drop(4),
    "join": lambda f, g: f.join(g),
}


@pytest.mark.parametrize("op", sorted(_POSITIONAL))
def test_positional_op_reads_one_fetch(spark, simple_csv, op):
    fetch, _ = _jobs(spark, _bounded(spark, simple_csv).to_df().limit(10).collect)
    fetch_g, _ = _jobs(spark, _bounded(spark, simple_csv, 3).to_df().limit(10).collect)
    f, g = _bounded(spark, simple_csv), _bounded(spark, simple_csv, 3)

    def run():
        if op in ("take", "drop"):
            f.height()  # the lazy slices read the rows height() fetched
        return _POSITIONAL[op](f, g)

    jobs, out = _jobs(spark, run)
    assert jobs == fetch + (fetch_g if op == "join" else 0)
    again, (height, text, rows) = _jobs(
        spark, lambda: (out.height(), render_frame(out), out.collect())
    )
    assert again == 0
    fresh = _unkept(_POSITIONAL[op](_bounded(spark, simple_csv), _bounded(spark, simple_csv, 3)))
    want = fresh.to_df().collect()
    assert rows == want
    assert [list(r.__fields__) for r in rows] == [list(r.__fields__) for r in want]
    assert height == len(want) == {"head": 1, "last": 1, "take": 4, "drop": 6}.get(op, 9 + (op == "join"))
    assert text == render_frame(fresh)


def test_init_of_unbounded_frame_holding_rows(spark, simple_csv):
    """A frame Catalyst cannot bound keeps init()'s distributed filter
    plan and its one reverse top-1 job even when it holds its rows; the
    result keeps all but the last of them."""
    f = read_csv(spark, simple_csv)
    assert _plan_max_rows(f) is None
    f.height()
    jobs, out = _jobs(spark, f.init)
    assert jobs == 1
    plan = out.df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in plan and "GlobalLimit" not in plan
    again, rows = _jobs(spark, out.collect)
    assert again == 0
    assert rows == read_csv(spark, simple_csv).to_df().collect()[:-1]


def test_tail_keeps_the_rows_it_fetched(spark, tmp_path):
    path = _write(tmp_path / "o.csv", "store,qty\n" + "".join(f"s{i},{i}\n" for i in range(6)))
    f = read_csv(spark, path).take(4).tail()
    _write(tmp_path / "o.csv", "store,qty\nzz,100\n", age_s=None)
    text = render_frame(f)
    assert [l.split()[1] for l in text.splitlines()[1:]] == ["s1", "s2", "s3"]
    assert f.height() == 3


def _above_bound(spark):
    return KevinFrame.from_df(spark.range(20000)).take(10001)


@pytest.mark.parametrize("op", ["head", "tail", "init", "last", "join"])
def test_positional_op_above_bound_runs_todays_job(spark, op):
    """A frame Catalyst bounds above ``_ROWS_BOUND`` is not fetched: the
    op runs ``isEmpty``, the reverse top-1 or a ``count()`` per side."""
    df = _above_bound(spark).df
    todays = {
        "head": df.isEmpty,
        "tail": df.isEmpty,
        "init": df.orderBy(df["__idx"].desc()).select("__idx").first,
        "last": df.orderBy(df["__idx"].desc()).select("__idx").first,
        "join": lambda: (df.count(), df.count()),
    }
    want, _ = _jobs(spark, todays[op])
    f = _above_bound(spark)
    jobs, out = _jobs(spark, lambda: _POSITIONAL[op](f, _above_bound(spark)))
    assert jobs == want > 0
    assert out.height() == {"head": 1, "last": 1}.get(op, 10000 + (op == "join"))
    assert out.collect()[-1]["id"] == (0 if op == "head" else 10000 - (op == "init"))


def test_zip_join_keeps_r_names_and_nulls(spark):
    def build():
        l = spark.createDataFrame([(1, "a"), (None, "b"), (3, None)], "k int, v string")
        r = spark.createDataFrame([(None, 1.5), (20, None), (30, 2.5)], "k int, w double")
        return KevinFrame.from_df(l).take(3).join(KevinFrame.from_df(r).take(3))

    z = build()
    jobs, (rows, text) = _jobs(spark, lambda: (z.collect(), render_frame(z)))
    assert jobs == 0
    assert z.columns == list(rows[0].__fields__) == ["k", "v", "k_r", "w"]
    assert [r.asDict() for r in rows] == [
        {"k": 1, "v": "a", "k_r": None, "w": 1.5},
        {"k": None, "v": "b", "k_r": 20, "w": None},
        {"k": 3, "v": None, "k_r": 30, "w": 2.5},
    ]
    fresh = _unkept(build())
    assert [r.asDict() for r in fresh.to_df().collect()] == [r.asDict() for r in rows]
    assert text == render_frame(fresh)


@pytest.mark.parametrize("op", ["head", "tail", "init", "last", "join"])
def test_empty_frame_above_bound_errors_unchanged(spark, op):
    empty = KevinFrame.from_df(spark.range(20000)).filter(F.col("id") < 0)
    other = KevinFrame.from_df(spark.range(3)).take(3)
    msg = "Can't join inconsistent data frames" if op == "join" else f"{op}: empty data frame"
    with pytest.raises(KevinValueError, match=f"^{msg}$"):
        _POSITIONAL[op](empty, other)


def test_last_of_melt_is_one_row(spark, simple_frame):
    """melt repeats ``__idx`` once per variable: last() is the one last
    row of the var-major order, on a bounded frame and on any other."""
    long = simple_frame.melt(["city"], ["sale", "cost"])
    want = long.to_df().collect()[-1:]
    assert _plan_max_rows(long) is None
    assert long.last().collect() == want
    assert simple_frame.take(13).melt(["city"], ["sale", "cost"]).last().collect() == want


def _crosstab(f, dim):
    """year_crosstab's shape: the pivot frame after ``pivot_table()``,
    which fetched its crosstab cells, as an analyst asks for the wide
    table before the render."""
    p = f.filter("year", lambda c: c >= 2002).cast(["city", "year"], [], "sum", "sale").unstack("year")
    p.pivot_table()
    return p


#: (plan, height + render) jobs of the analyst question shapes on the simple
#: CSV and a small parquet dimension; a plan's one bounded fetch answers
#: height() and the render, and append runs no job of its own
_SHAPES = {
    "melt_tail": (
        lambda f, dim: f.drop(2).take(8).select(["year", "sale", "cost"]).melt(["year"], ["sale", "cost"]).tail(),
        6, 0,
    ),
    "take_last": (lambda f, dim: f.sort("sale", SortOrder.DESCENDING).take(5).last(), 1, 0),
    "zip": (
        lambda f, dim: f.filter("year", lambda c: c == 2001).take(4).select(["city", "sale"]).join(
            f.filter("year", lambda c: c > 2001).take(4).select(["city", "cost"])
        ),
        2, 0,
    ),
    "top_stores": (lambda f, dim: _top_cities(f), 0, 2),
    "append": (
        lambda f, dim: f.filter("city", lambda c: c == "hangzhou").append(
            f.filter("city", lambda c: c == "beijing")
        ),
        0, 3,
    ),
    "store_pair_append": (
        lambda f, dim: f.filter("city", lambda c: c == "hangzhou").append(
            f.filter("city", lambda c: c == "beijing")
        ).groupby(["year"]).aggregate_many([("sum", "sale"), ("mean", "cost"), ("count", "sale", "n")]),
        0, 2,
    ),
    "region_merge": (
        lambda f, dim: f.merge(dim, on="city", broadcast_other=True).groupby(["region"]).aggregate("sum", "sale"),
        0, 3,
    ),
    "year_crosstab": (_crosstab, 2, 0),
}


@pytest.fixture(scope="module")
def regions(spark, tmp_path_factory):
    """A small parquet dimension: the region of each simple.csv city."""
    path = str(tmp_path_factory.mktemp("dim") / "regions.parquet")
    spark.createDataFrame(
        [("hangzhou", "east"), ("shanghai", "east"), ("beijing", "north")],
        "city string, region string",
    ).write.parquet(path)
    return path


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_question_shape_job_counts(spark, simple_csv, regions, shape):
    build, plan_jobs, answer_jobs = _SHAPES[shape]
    f = read_csv(spark, simple_csv)
    dim = read_parquet(spark, regions, ordered=True)
    jobs, out = _jobs(spark, lambda: build(f, dim))
    assert jobs == plan_jobs
    jobs, (height, text) = _jobs(spark, lambda: (out.height(), render_frame(out)))
    assert jobs == answer_jobs
    fresh = _unkept(build(read_csv(spark, simple_csv), dim))
    assert height == (fresh.height() if fresh.pivot else fresh.to_df().count())
    assert text == render_frame(fresh)


#: most Py4J commands each question shape sends when its two reads hit the
#: session's file cache: both reads, the plan, height() and the render.
#: With PySpark's per-call origin capture on, each read rebuilding its
#: typed plan and to_df() rebuilt per call, the shapes sent 772
#: (melt_tail), 462 (take_last), 739 (zip), 518 (top_stores), 696
#: (append), 853 (store_pair_append), 430 (region_merge) and 662
#: (year_crosstab); each bound is at most 40 % of that.
_SHAPE_COMMANDS = {
    "melt_tail": 270,
    "take_last": 130,
    "zip": 275,
    "top_stores": 155,
    "append": 240,
    "store_pair_append": 300,
    "region_merge": 165,
    "year_crosstab": 215,
}


@pytest.fixture(scope="module")
def kept_sources(tmp_path_factory, simple_csv):
    """simple.csv and a one-file parquet regions dimension, old enough
    for a read to keep its entry in the session's file cache."""
    d = tmp_path_factory.mktemp("kept")
    with open(simple_csv) as fh:
        csv = _write(d / "simple.csv", fh.read())
    dim = d / "regions.parquet"
    pq.write_table(
        pa.table({"city": ["hangzhou", "shanghai", "beijing"], "region": ["east", "east", "north"]}),
        dim,
    )
    _backdate(dim, 60)
    return csv, str(dim)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_question_shape_jvm_commands(spark, monkeypatch, kept_sources, shape):
    build = _SHAPES[shape][0]
    csv, dim = kept_sources

    def ask():
        out = build(read_csv(spark, csv), read_parquet(spark, dim, ordered=True))
        return out.height(), render_frame(out)

    ask()  # store both files' entries
    assert _jvm_commands(monkeypatch, ask) <= _SHAPE_COMMANDS[shape]


def test_column_sends_no_origin_command(spark, monkeypatch):
    """``get_spark`` turns off PySpark's per-call origin capture: building
    a Column sends no ``PySparkCurrentOrigin`` command."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def logging(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", logging)
        (F.col("a") + 1).alias("b")
    assert sent and not [c for c in sent if "PySparkCurrentOrigin" in c]
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_get_spark_adds_package_root_once(spark, monkeypatch):
    """``get_spark`` puts the package root on ``PYTHONPATH`` once, and
    never leaves an empty entry, which Python reads as the working
    directory on every worker's ``sys.path``."""
    import os

    from pyspark.sql import SparkSession

    from kevinlang_spark.session import get_spark

    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: spark)
    get_spark()
    get_spark()
    entries = os.environ["PYTHONPATH"].split(os.pathsep)
    assert len(entries) == 1 and entries[0]
    monkeypatch.setenv("PYTHONPATH", "/x")
    get_spark()
    get_spark()
    assert os.environ["PYTHONPATH"] == entries[0] + os.pathsep + "/x"


# --- pivot_table column order is the render's header order ---


def _header_values(text: str, n_lines: int) -> list[list[str]]:
    """The value tokens of the first ``n_lines`` col-tree header lines."""
    return [line.split()[1:] for line in text.splitlines()[:n_lines]]


def test_pivot_table_orders_numeric_columns_by_value(spark):
    df = spark.createDataFrame(
        [("a", c, c * 10) for c in (11, 2, 10, 1, 9)] + [("b", 2, 5)],
        "s string, c int, v int",
    )
    p = KevinFrame.from_df(df).cast(["s"], ["c"], "sum", "v")
    cols = p.pivot_table().columns
    assert cols == ["s", "1", "2", "9", "10", "11"]
    assert _header_values(p.render(), 1) == [cols[1:]]


def test_pivot_table_orders_two_col_fields_like_render(spark):
    df = spark.createDataFrame(
        [
            ("a", 10, 3, 1.0),
            ("a", 2, 20, 2.0),
            ("b", 2, 3, 3.0),
            ("b", None, 20, 4.0),
            ("a", 10, 20, 5.0),
            ("b", 1, 3, 6.0),
        ],
        "s string, c1 int, c2 int, v double",
    )
    p = KevinFrame.from_df(df).cast(["s"], ["c1", "c2"], "sum", "v")
    keys = [k.replace("\x00null", "empty").split("\x1f") for k in p.pivot_table().columns[1:]]
    assert keys == [["empty", "20"], ["1", "3"], ["2", "3"], ["2", "20"], ["10", "3"], ["10", "20"]]
    c1_line, c2_line = _header_values(p.render(), 2)
    assert c1_line == list(dict.fromkeys(k[0] for k in keys))
    assert c2_line == [k[1] for k in keys]
