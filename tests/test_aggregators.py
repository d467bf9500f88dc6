"""Aggregator semantics vs the reference library
(/root/reference/src/Data/DataFrame/Aggregator.hs, test/Spec.lhs:83-96)."""

from __future__ import annotations

import math

import pytest

from kevinlang_spark.errors import KevinFieldError, KevinTypeError, KevinValueError
from kevinlang_spark.traits import TEXT_DIM

SALES = [1060, 5467, 1040, 3245, 1360, 6544, 1807, 5321, 1437, 3218, 2543, 5439, 3211]
COSTS = [244, 545, 322, 446, 541, 321, 655, 741, 336, 437, 872, 246, 541]
CITIES = (
    ["hangzhou"] * 6 + ["shanghai"] * 5 + ["beijing"] * 2
)


def _one(kf, col):
    rows = kf.collect()
    assert len(rows) == 1
    return rows[0][col]


def test_sum(simple_frame):
    assert _one(simple_frame.aggregate("sum", "cost"), "cost") == sum(COSTS)


def test_mean(simple_frame):
    got = _one(simple_frame.aggregate("mean", "cost"), "cost")
    assert got == pytest.approx(sum(COSTS) / len(COSTS))


def test_count_returns_float(simple_frame):
    # Aggregator.hs:12-13 — count comes back as a RealFloat
    got = _one(simple_frame.aggregate("count", "cost"), "cost")
    assert isinstance(got, float)
    assert got == 13.0


def test_variance_is_population(simple_frame):
    # Aggregator.hs:15-17 — mean of squared deviations, NO n-1
    mu = sum(COSTS) / len(COSTS)
    pop_var = sum((x - mu) ** 2 for x in COSTS) / len(COSTS)
    got = _one(simple_frame.aggregate("variance", "cost"), "cost")
    assert got == pytest.approx(pop_var)


def test_sd_is_population(simple_frame):
    mu = sum(COSTS) / len(COSTS)
    pop_sd = math.sqrt(sum((x - mu) ** 2 for x in COSTS) / len(COSTS))
    got = _one(simple_frame.aggregate("sd", "cost"), "cost")
    assert got == pytest.approx(pop_sd)


def test_concat_in_frame_order(simple_frame):
    # Aggregator.hs:23-24 — order-sensitive string concatenation
    got = _one(simple_frame.aggregate("concat", "city"), "city")
    assert got == "".join(CITIES)


def test_concat_respects_sort_order(simple_frame):
    got = _one(simple_frame.sort("cost").aggregate("concat", "city"), "city")
    order = [c for _, c in sorted(zip(COSTS, CITIES), key=lambda t: t[0])]
    assert got == "".join(order)


def test_numeric_agg_on_string_errors(simple_frame):
    # test/Spec.lhs:88-93 — every numeric aggregator on a Text column errors
    for agg in ("sum", "mean", "count", "variance", "sd"):
        with pytest.raises(KevinTypeError):
            simple_frame.aggregate(agg, "city")


def test_concat_on_numeric_errors(simple_frame):
    with pytest.raises(KevinTypeError):
        simple_frame.aggregate("concat", "cost")


def test_agg_unknown_field(simple_frame):
    with pytest.raises(KevinFieldError):
        simple_frame.aggregate("sum", "hehehe")


def test_aggregate_udf_custom_fold(simple_frame):
    # reference accepts arbitrary host folds (Combinator.hs:124);
    # ours run as Arrow-batched grouped-agg pandas UDFs
    out = simple_frame.groupby("city").aggregate_udf(
        lambda s: float(s.max() - s.min()), "sale", alias="sale_range"
    )
    by_city = {r["city"]: r["sale_range"] for r in out.collect()}
    assert by_city["hangzhou"] == 6544 - 1040
    assert by_city["beijing"] == 5439 - 3211


def test_aggregate_udf_alias_of_group_key_raises(simple_frame):
    # same check as aggregate: the output would hold two 'city' columns
    with pytest.raises(KevinValueError, match="duplicate output column 'city'"):
        simple_frame.groupby("city").aggregate_udf(
            lambda s: float(s.sum()), "sale", alias="city"
        )


def test_aggregate_udf_string_fold_is_text_dimension(simple_frame):
    out = simple_frame.groupby("city").aggregate_udf(
        lambda s: "/".join(sorted(set(s))), "product", return_type="string"
    )
    assert out.traits["product"] == TEXT_DIM
    assert {r["city"]: r["product"] for r in out.collect()}["beijing"] == "CD/mp4"


def test_aggregate_udf_orders_like_aggregate(simple_frame):
    g = simple_frame.groupby(["city", "gender"])
    udf = g.aggregate_udf(lambda s: float(s.sum()), "sale")
    builtin = g.aggregate("sum", "sale")
    assert udf.order_spec == builtin.order_spec
    assert [n for n, _ in udf.order_spec] == ["city", "gender", "__idx"]
    assert udf.collect() == builtin.collect()


def test_grouped_variance(simple_frame):
    out = simple_frame.groupby("city").aggregate("variance", "cost")
    by_city = {r["city"]: r["cost"] for r in out.collect()}
    bj = [246, 541]  # beijing costs
    mu = sum(bj) / len(bj)
    assert by_city["beijing"] == pytest.approx(
        sum((x - mu) ** 2 for x in bj) / len(bj)
    )


def test_aggregate_many_matches_singles(simple_frame):
    """aggregate_many == the per-statistic aggregates, in one shuffle."""
    base = simple_frame.groupby("city")
    many = base.aggregate_many(
        [("mean", "sale", "m"), ("count", "sale", "n"), ("sd", "cost", "s")]
    )
    rows = {r["city"]: r for r in many.to_df().collect()}
    mean = {r["city"]: r["m"] for r in base.aggregate("mean", "sale", alias="m").to_df().collect()}
    cnt = {r["city"]: r["n"] for r in base.aggregate("count", "sale", alias="n").to_df().collect()}
    sd = {r["city"]: r["s"] for r in base.aggregate("sd", "cost", alias="s").to_df().collect()}
    for c in rows:
        assert rows[c]["m"] == mean[c]
        assert rows[c]["n"] == cnt[c]
        assert rows[c]["s"] == sd[c]
    assert list(many.columns) == ["city", "m", "n", "s"]


def test_aggregate_many_single_exchange(simple_frame):
    """The whole multi-statistic aggregation must plan exactly ONE
    Exchange (one shuffle)."""
    out = simple_frame.groupby("city").aggregate_many(
        [("mean", "sale", "m"), ("variance", "cost", "v")]
    )
    # assert on the aggregation itself (out.df), not to_df(): the ordered
    # presentation sort legitimately adds a range-partition exchange
    df = out.df.select("city", "m", "v")
    df.collect()  # AQE: final plan exists only after executing THIS dataset
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the same exchange under both the final plan and its
    # stage section — count distinct shuffle stages, not text occurrences
    import re

    stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
    assert len(stages) == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_aggregate_many_global_and_errors(simple_frame):
    import pytest

    from kevinlang_spark.errors import KevinFieldError, KevinTypeError, KevinValueError

    row = simple_frame.aggregate_many([("sum", "sale", "t"), ("max", "cost", "mx")])
    got = row.to_df().collect()
    assert len(got) == 1 and got[0]["t"] > 0
    with pytest.raises(KevinValueError):
        simple_frame.aggregate_many([])
    with pytest.raises(KevinValueError):
        simple_frame.aggregate_many([("sum", "sale", "x"), ("mean", "cost", "x")])
    with pytest.raises(KevinFieldError):
        simple_frame.aggregate_many([("sum", "nope")])
    with pytest.raises(KevinTypeError):
        simple_frame.aggregate_many([("sum", "city")])


def test_aggregate_many_concat_ordered(simple_frame):
    out = (
        simple_frame.sort("sale")
        .groupby("gender")
        .aggregate_many([("concat", "product", "ps"), ("count", "sale", "n")])
    )
    rows = {r["gender"]: r for r in out.to_df().collect()}
    # concat follows frame order (ascending sale)
    assert rows["F"]["n"] == 7.0
    assert len(rows["F"]["ps"]) > 0
