"""append (Combinator.hs:317-337), positional join (339-360), and the
relational merge extension."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kevinlang_spark import SortOrder
from kevinlang_spark.errors import KevinValueError


def test_append_self(simple_frame):
    out = simple_frame.append(simple_frame)
    assert out.height() == 26
    rows = out.select("sale").collect()
    # left's rows first, then right's (renumbered)
    assert rows[0]["sale"] == 1060.0
    assert rows[13]["sale"] == 1060.0


def test_append_respects_views(simple_frame):
    # only visible rows of each side are kept (Combinator.hs:330-333)
    a = simple_frame.take(2)
    b = simple_frame.drop(11)
    out = a.append(b)
    assert out.height() == 4


def test_append_column_order_insensitive(simple_frame):
    # same (name, traits) sets in different order is OK; output order = left's
    reordered = simple_frame.select(
        ["discount", "cost", "sale", "year", "product", "city", "gender"]
    )
    out = simple_frame.append(reordered)
    assert out.height() == 26
    assert out.columns == simple_frame.columns


def test_append_mismatch_errors(simple_frame):
    with pytest.raises(KevinValueError):
        simple_frame.append(simple_frame.select(["city", "cost"]))


def _rows(kf):
    return [tuple(r) for r in kf.to_df().collect()]


def test_nested_append_keeps_each_sides_order(simple_frame):
    """Each side's rows in its own order (ascending, descending, twice
    descending), sides one after another — also a side appended twice."""
    x = simple_frame.sort("sale")
    y = simple_frame.take(5).sort("cost", SortOrder.DESCENDING)
    z = simple_frame.sort("year", SortOrder.DESCENDING).sort("city", SortOrder.DESCENDING)
    out = x.append(y).append(z).append(x)
    assert _rows(out) == _rows(x) + _rows(y) + _rows(z) + _rows(x)
    assert out.height() == 13 + 5 + 13 + 13


@pytest.mark.parametrize("right", ["bounded", "unbounded"])
def test_positional_ops_of_an_appended_frame(simple_frame, right):
    a = simple_frame.sort("cost", SortOrder.DESCENDING).take(4)
    b = simple_frame.take(3) if right == "bounded" else simple_frame.drop(10)
    u = a.append(b)
    want = _rows(a) + _rows(b)
    assert _rows(u.head()) == want[:1]
    assert _rows(u.tail()) == want[1:]
    assert _rows(u.init()) == want[:-1]
    assert _rows(u.last()) == want[-1:]
    zipped = u.select(["city"]).join(u.select(["sale"]))
    assert _rows(zipped) == [(r[1], r[4]) for r in want]


def test_positional_join(simple_frame):
    # i-th row glued to i-th row — NOT a relational join (Combinator.hs:339-360)
    left = simple_frame.select(["city"])
    right = simple_frame.select(["cost"])
    out = left.join(right)
    assert out.columns == ["city", "cost"]
    rows = out.collect()
    assert len(rows) == 13
    assert (rows[0]["city"], rows[0]["cost"]) == ("hangzhou", 244.0)
    assert (rows[12]["city"], rows[12]["cost"]) == ("beijing", 541.0)


def test_positional_join_after_sort(simple_frame):
    # join glues by CURRENT order, so sorting one side changes pairing
    left = simple_frame.select(["city"])
    right = simple_frame.sort("cost").select(["cost"])
    rows = left.join(right).collect()
    assert rows[0]["cost"] == 244.0  # smallest cost pairs with first city
    assert rows[12]["cost"] == 872.0


def test_positional_join_height_mismatch(simple_frame):
    with pytest.raises(KevinValueError):
        simple_frame.join(simple_frame.take(5))


def test_positional_join_duplicate_names(simple_frame):
    out = simple_frame.select(["city"]).join(simple_frame.select(["city"]))
    assert out.columns == ["city", "city_r"]
    rows = out.collect()
    assert all(r["city"] == r["city_r"] for r in rows)


def test_merge_relational(spark, sf_dir):
    from kevinlang_spark.sources.parquet import read_parquet

    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    region = read_parquet(spark, f"{sf_dir}/region.parquet")
    out = nation.merge(
        region,
        on=nation.df.n_regionkey == region.df.r_regionkey,
        broadcast_other=True,
    )
    assert out.height() == 25
    assert "r_name" in out.columns


@pytest.mark.parametrize("right_ordered", [True, False])
def test_merge_one_to_many_orders_matches_by_right_row(spark, tmp_path, right_ordered):
    """The last left key has 3 matches: the right row's index follows
    ``__idx`` in the merge's order spec, so the order key is unique, the
    matches keep the right side's order, and a frame Catalyst cannot bound
    agrees with a bounded one and with one holding its rows on ``init``
    and ``last`` (the left spec alone made ``init`` drop all 3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kevinlang_spark.sources.parquet import read_parquet

    pq.write_table(pa.table({"k": [1, 2], "lv": ["x", "y"]}), tmp_path / "l.parquet")
    pq.write_table(pa.table({"k": [1, 2, 2, 2], "rv": ["a", "b", "c", "d"]}), tmp_path / "r.parquet")
    left = read_parquet(spark, str(tmp_path / "l.parquet"), ordered=True)
    right = read_parquet(spark, str(tmp_path / "r.parquet"), ordered=right_ordered)
    want = [(1, "x", "a"), (2, "y", "b"), (2, "y", "c"), (2, "y", "d")]
    assert _rows(left.merge(right, on="k")) == want
    held = left.merge(right, on="k")
    assert held.height() == 4
    for frame in (left.merge(right, on="k"), left.merge(right, on="k").take(10), held):
        assert _rows(frame.init()) == want[:-1]
        assert _rows(frame.last()) == want[-1:]
