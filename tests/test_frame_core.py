"""Core combinator semantics against the reference's primary fixture
(test expectations from /root/reference/test/Spec.lhs)."""

from __future__ import annotations

import importlib
import inspect
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from kevinlang_spark.errors import KevinFieldError, KevinTypeError, KevinValueError
from kevinlang_spark.frame import _OPERATOR_METHODS, KevinFrame, SortOrder
from kevinlang_spark.traits import DataInterpretation, DataRole, KType


def test_size(simple_frame):
    # Spec.lhs:20-22 — height 13, width 7
    assert simple_frame.size() == (13, 7)


def test_traits_inference(simple_frame):
    t = simple_frame.traits
    assert t["gender"].ktype == KType.TEXT
    assert t["gender"].role == DataRole.DIMENSION
    # the year name-rule (DataFrame.hs:226-228)
    assert t["year"].role == DataRole.DIMENSION
    assert t["year"].interp == DataInterpretation.DISCRETE
    assert t["sale"].role == DataRole.MEASURE
    assert t["sale"].interp == DataInterpretation.CONTINUOUS


def test_select_reorders_and_drops_unknown(simple_frame):
    # Combinator.hs:46-55 — unknown names silently dropped, order follows request
    kf = simple_frame.select(["cost", "city", "nope"])
    assert kf.columns == ["cost", "city"]
    # selecting a single name (VaridicParam single-string case)
    assert simple_frame.select("city").columns == ["city"]
    # column-empty frame
    assert simple_frame.select(["nope"]).columns == []


def test_select_invalid_name_type(simple_frame):
    with pytest.raises(KevinTypeError):
        simple_frame.select([1, 2])


def test_filter_expr_and_callable(simple_frame):
    # Spec.lhs:72-74
    beijing = simple_frame.filter("city", lambda c: c == "beijing")
    assert beijing.height() == 2
    costly = simple_frame.filter(F.col("cost") > 500)
    assert costly.height() == 6
    with pytest.raises(KevinFieldError):
        simple_frame.filter("nope", lambda c: c == "x")


def test_filter_udf_type_check(simple_frame):
    with pytest.raises(KevinTypeError):
        simple_frame.filter_udf("city", lambda v: v > 3, kind="double")
    got = simple_frame.filter_udf("cost", lambda v: v > 500, kind="double")
    assert got.height() == 6


def test_sort_ascending_stable(simple_frame):
    kf = simple_frame.sort("cost")
    costs = [r["cost"] for r in kf.select("cost").collect()]
    assert costs == sorted(costs)


def test_sort_descending_is_reverse_of_ascending(simple_frame):
    # Combinator.hs:229-230: descending = reverse of ascending, so ties come
    # out in REVERSED original order.  cost 541 appears twice (rows 5 and 13,
    # sale 1360 then 3211); descending must yield 3211 before 1360.
    desc = simple_frame.sort("cost", SortOrder.DESCENDING)
    rows = desc.select(["cost", "sale"]).collect()
    asc = simple_frame.sort("cost").select(["cost", "sale"]).collect()
    assert rows == asc[::-1]
    sales_at_541 = [r["sale"] for r in rows if r["cost"] == 541.0]
    assert sales_at_541 == [3211.0, 1360.0]


def test_sort_unknown_field_noop(simple_frame):
    kf = simple_frame.sort("nope")
    assert kf.height() == 13


def test_take_drop(simple_frame):
    # Spec.lhs:27-31
    assert simple_frame.take(3).height() == 3
    assert simple_frame.take(0).height() == 0
    assert simple_frame.take(99).height() == 13
    assert simple_frame.drop(3).height() == 10
    assert simple_frame.drop(0).height() == 13
    assert simple_frame.drop(99).height() == 0


def test_head_tail_init_last(simple_frame):
    assert simple_frame.head().height() == 1
    assert simple_frame.tail().height() == 12
    assert simple_frame.init().height() == 12
    assert simple_frame.last().height() == 1
    # head/last pick the right ends
    first = simple_frame.head().collect()[0]
    assert first["sale"] == 1060.0
    last = simple_frame.last().collect()[0]
    assert last["sale"] == 3211.0


def _rows(kf):
    return [tuple(r) for r in kf.to_df().collect()]


@pytest.mark.parametrize("bounded", [False, True])
def test_init_last_after_two_descending_sorts(simple_frame, bounded):
    """Two descending sorts flip the ``__idx`` tiebreak twice: ties come
    back in frame order, and init/last read the same order."""
    f = simple_frame.take(13) if bounded else simple_frame
    f = f.sort("year", SortOrder.DESCENDING).sort("city", SortOrder.DESCENDING)
    want = _rows(f)
    assert _rows(f.init()) == want[:-1]
    assert _rows(f.last()) == want[-1:]


def test_init_of_melt_drops_one_row(simple_frame):
    """melt repeats ``__idx`` once per variable; init() drops the one
    last row of the var-major order."""
    long = simple_frame.melt(["city"], ["sale", "cost"])
    assert _rows(long.init()) == _rows(long)[:-1]
    assert long.init().height() == 25


@pytest.mark.parametrize("field", ["a", "s"])
def test_init_last_after_sort_on_array_or_struct(spark, tmp_path, field):
    """The last row's order key holds an array or struct value: init()
    filters it out with a literal of that type."""
    df = spark.createDataFrame(
        [([2, 1], (1, "x")), ([1], (None, "y")), (None, None), ([1, None], (1, None)), ([], (0, "z"))],
        "a array<int>, s struct<p:int,q:string>",
    )
    df.write.parquet(str(tmp_path / "t"))
    f = KevinFrame.from_df(spark.read.parquet(str(tmp_path / "t")))
    for order in SortOrder:
        g = f.sort(field, order)
        want = _rows(g)
        assert _rows(g.init()) == want[:-1]
        assert _rows(g.last()) == want[-1:]


def test_ordered_only_where_rows_keep_an_order(spark, simple_frame):
    dim = KevinFrame.from_df(
        spark.createDataFrame([("hangzhou", "east")], "city string, region string")
    )
    unordered = [
        simple_frame.merge(dim, on="city", how="right"),
        simple_frame.merge(dim, on="city", how="full"),
        simple_frame.union_distinct(simple_frame),
        simple_frame.intersect(simple_frame),
        simple_frame.except_all(simple_frame),
        simple_frame.groupby("city").apply_grouped(lambda p: p[["city"]], "city string"),
        simple_frame.describe(),
    ]
    for kf in unordered:
        assert not kf.ordered and kf.order_spec == ()
    assert simple_frame.merge(dim, on="city").ordered
    assert KevinFrame(simple_frame.df).ordered
    assert KevinFrame(simple_frame.df).order_spec == (("__idx", True),)
    assert not KevinFrame(simple_frame.df.drop("__idx")).ordered


def test_head_on_empty_errors(simple_frame):
    empty = simple_frame.take(0)
    for op in ("head", "tail", "init", "last"):
        with pytest.raises(KevinValueError):
            getattr(empty, op)()


def test_groupby_aggregate_sum(simple_frame):
    # groups come out ascending by key (Combinator.hs:66-72)
    out = simple_frame.groupby("city").aggregate("sum", "sale").collect()
    cities = [r["city"] for r in out]
    assert cities == ["beijing", "hangzhou", "shanghai"]
    by_city = {r["city"]: r["sale"] for r in out}
    assert by_city["beijing"] == 5439 + 3211
    assert by_city["hangzhou"] == 1060 + 5467 + 1040 + 3245 + 1360 + 6544


def test_groupby_unknown_key_ignored(simple_frame):
    out = simple_frame.groupby(["city", "nope"]).aggregate("count", "sale")
    assert out.height() == 3
    assert out.columns == ["city", "sale"]


def test_aggregate_global_no_groups(simple_frame):
    out = simple_frame.aggregate("sum", "sale").collect()
    assert len(out) == 1
    assert out[0]["sale"] == 41692.0


def test_aggregate_unknown_field(simple_frame):
    with pytest.raises(KevinFieldError):
        simple_frame.aggregate("sum", "nope")


def test_filter_then_groupby_pipeline(simple_frame):
    out = (
        simple_frame.filter("cost", lambda c: c > 500)
        .groupby("city")
        .aggregate("count", "sale")
        .collect()
    )
    by_city = {r["city"]: r["sale"] for r in out}
    # costs > 500: rows 2(545,hangzhou) 5(541,hangzhou) 7(655,shanghai)
    # 8(741,shanghai) 11(872,shanghai) 13(541,beijing)
    assert by_city == {"beijing": 1.0, "hangzhou": 2.0, "shanghai": 3.0}


def test_transform_grouped(simple_frame):
    # every row gains its group's aggregate; row count and order unchanged
    out = simple_frame.groupby("city").transform_grouped("sum", "sale", alias="city_sale")
    rows = out.collect()
    assert len(rows) == 13
    hz_total = 1060 + 5467 + 1040 + 3245 + 1360 + 6544
    assert all(r["city_sale"] == hz_total for r in rows if r["city"] == "hangzhou")
    # order preserved (first row is still the first CSV record)
    assert rows[0]["sale"] == 1060.0


def test_transform_grouped_global(simple_frame):
    out = simple_frame.transform_grouped("mean", "sale", alias="m")
    rows = out.collect()
    assert len(rows) == 13
    assert rows[0]["m"] == pytest.approx(41692 / 13)


def test_apply_grouped_map(simple_frame):
    # per-group normalization — the grouped-map escape hatch
    def center(pdf):
        pdf = pdf.copy()
        pdf["sale"] = pdf["sale"] - pdf["sale"].mean()
        return pdf[["city", "sale"]]

    out = simple_frame.groupby("city").apply_grouped(center, "city string, sale double")
    rows = out.df.collect()
    assert len(rows) == 13
    by_city_sum = {}
    for r in rows:
        by_city_sum[r["city"]] = by_city_sum.get(r["city"], 0) + r["sale"]
    for v in by_city_sum.values():
        assert abs(v) < 1e-6  # centered → sums to ~0 per group


def test_apply_grouped_requires_groups(simple_frame):
    with pytest.raises(KevinValueError):
        simple_frame.apply_grouped(lambda p: p, "city string")


def test_transform_grouped_type_errors(simple_frame):
    with pytest.raises(KevinTypeError):
        simple_frame.groupby("city").transform_grouped("sum", "city")
    with pytest.raises(KevinTypeError):
        simple_frame.groupby("city").transform_grouped("concat", "city")


def test_unordered_mode_raises_on_order_ops(spark):
    df = spark.range(10).withColumnRenamed("id", "x")
    kf = KevinFrame.from_df(df, ordered=False)
    with pytest.raises(KevinValueError):
        kf.sort("x")
    with pytest.raises(KevinValueError):
        kf.take(3)
    # order-free ops still fine
    assert kf.filter(F.col("x") > 4).height() == 5


def test_frame_extension_surface(spark):
    """The pipeline operators are reachable as KevinFrame methods (one
    coherent frame-in/frame-out API)."""
    from kevinlang_spark.frame import KevinFrame
    from kevinlang_spark.operators.quality import not_null, unique

    df = spark.createDataFrame(
        [(1, "hello world text one"), (2, "hello world text one"), (3, "x")],
        ["doc_id", "text"],
    )
    kf = KevinFrame.from_df(df, ordered=False)

    deduped = kf.dedup_exact()
    assert deduped.df.count() == 2  # ids 1 and 3 survive
    assert 2 not in {r.doc_id for r in deduped.df.collect()}

    stats = kf.with_text_stats()
    assert "quality" in stats.df.columns and "lang_pred" in stats.df.columns

    prof = KevinFrame.from_df(
        spark.createDataFrame([(1, 2.0)], ["a", "b"]), ordered=False
    ).describe()
    assert {r.column for r in prof.df.collect()} == {"a", "b"}

    rep = kf.validate([unique("doc_id"), not_null("text")])
    out = {r.check: r.passed for r in rep.df.collect()}
    assert out == {"doc_id_unique": True, "text_not_null": True}


def test_frame_extension_surface_round4(spark):
    """Round-4 pipeline operators are reachable as KevinFrame methods."""
    from kevinlang_spark.frame import KevinFrame

    docs = KevinFrame.from_df(
        spark.createDataFrame(
            [(1, "a\nb"), (2, "b\nc")], ["doc_id", "text"]
        ),
        ordered=False,
    )
    ld = docs.dedup_lines()
    got = {r.id: r.text_dedup for r in ld.df.collect()}
    assert got == {1: "a\nb", 2: "c"}

    emb = KevinFrame.from_df(
        spark.createDataFrame(
            [(1, [1.0, 1.0]), (2, [1.0, 1.01]), (3, [-1.0, -1.0])],
            "vec_id bigint, embedding array<double>",
        ),
        ordered=False,
    )
    sd = emb.dedup_semantic(bits=2, threshold=0.99)
    assert {r.id for r in sd.df.collect() if r.is_dup} == {2}

    baskets = KevinFrame.from_df(
        spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "a"), (2, "b")], ["basket", "item"]
        ),
        ordered=False,
    )
    rules = baskets.association_rules("basket", "item", min_support=2)
    assert rules.df.count() == 2  # both directions of the one pair

    base = KevinFrame.from_df(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"]),
        ordered=False,
    )
    log = KevinFrame.from_df(
        spark.createDataFrame(
            [(2, 99.0, 1, "U"), (3, 30.0, 1, "I")],
            ["k", "v", "seq", "op"],
        ),
        ordered=False,
    )
    merged = base.apply_cdc(log, ["k"], "seq", "op")
    assert {(r.k, r.v) for r in merged.df.collect()} == {
        (1, 10.0), (2, 99.0), (3, 30.0)
    }

    enc = KevinFrame.from_df(
        spark.createDataFrame(
            [("x", 1.0), ("x", 3.0), ("y", 10.0)], ["cat", "y"]
        ),
        ordered=False,
    ).target_encode("cat", "y", alpha=1.0)
    got = {r.cat: r.enc for r in enc.df.collect()}
    # global mean = 14/3; x: (4 + 14/3) / 3, y: (10 + 14/3) / 2
    assert abs(got["x"] - (4 + 14 / 3) / 3) < 1e-6
    assert abs(got["y"] - (10 + 14 / 3) / 2) < 1e-6


@pytest.mark.parametrize("method, path", sorted(_OPERATOR_METHODS.items()))
def test_operator_method_signature_matches_operator(method, path):
    """A generated method takes its operator's parameters after the frame:
    same names, kinds and defaults, so the two cannot drift apart."""
    module, attr = path.split(".")
    op = getattr(importlib.import_module(f"kevinlang_spark.operators.{module}"), attr)
    got = list(inspect.signature(getattr(KevinFrame, method)).parameters.values())
    want = list(inspect.signature(op).parameters.values())
    assert got[0].name == "self"
    assert got[1:] == want[1:]
    assert getattr(KevinFrame, method).__doc__ == op.__doc__


def test_operator_method_frame_argument_accepts_kevinframe_or_dataframe(spark):
    base_df = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    log_df = spark.createDataFrame(
        [(2, 99.0, 1, "U"), (3, 0.0, 1, "D"), (4, 40.0, 1, "I")],
        ["k", "v", "seq", "op"],
    )
    base = KevinFrame.from_df(base_df, ordered=False)
    for log in (KevinFrame.from_df(log_df, ordered=False), log_df):
        merged = base.apply_cdc(log, ["k"], "seq", "op")
        assert isinstance(merged, KevinFrame) and not merged.ordered
        assert {(r.k, r.v) for r in merged.df.collect()} == {
            (1, 10.0), (2, 99.0), (4, 40.0)
        }
    profiles = [
        base.join_key_profile(other, "k", "k").df.collect()
        for other in (base, base_df)
    ]
    profiles.append(base.join_key_profile(b=base_df, key_a="k", key_b="k").df.collect())
    assert profiles[0] == profiles[1] == profiles[2]


def test_import_loads_no_operator_modules_or_pandas():
    """Generated methods import their operator on first use: importing the
    package must not pull in pandas or the operator modules."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", "import sys, kevinlang_spark; print(*sys.modules)"],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    loaded = {
        m
        for m in out
        if m.split(".")[0] == "pandas" or m.startswith("kevinlang_spark.operators.")
    }
    assert loaded == {"kevinlang_spark.operators.aggregators"}
