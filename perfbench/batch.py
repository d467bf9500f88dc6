"""batch_scan: scans, aggregations, a pivot, a top-k, a dimension merge
and an append over a seeded parquet fact.

Frames are ``ordered=False`` except for the top-k, which needs row
order.  Spark execution and the operators dominate here; plan building
and rendering are negligible, so a fix to per-op overhead should leave
this workload unchanged.  Each round runs the five query kinds once, in
a seeded order, with seeded parameters, then runs its filter_aggregate
query again.
"""

from __future__ import annotations

from kevinlang_spark import SortOrder
from kevinlang_spark.sources import read_parquet

import inputs
from common import Ctx, Op, memo, round_rng
from oracle import diff_rows

#: unrecorded rounds before the measuring window: a round is long, and one leaves little drift
CONDITIONING_ROUNDS = 1
NAME = "batch_scan"


def generate(root: str, seed: int) -> inputs.Inputs:
    return inputs.batch_inputs(root, seed)


def oracle_views(ctx: Ctx) -> None:
    p = ctx.inputs.paths
    ctx.oracle.con.execute(
        f"create or replace view fact as select * from read_parquet('{p['fact']}/*.parquet')"
    )
    ctx.oracle.con.execute(
        f"create or replace view stores as select * from read_parquet('{p['stores']}')"
    )


def _fact(ctx: Ctx, ordered: bool = False):
    with ctx.tr.span("sources.read_parquet"):
        return read_parquet(ctx.spark, ctx.inputs.paths["fact"], ordered=ordered)


def _collect(ctx: Ctx, frame) -> list[tuple]:
    """The query's action; ``frame`` is a KevinFrame or a DataFrame."""
    df = frame.to_df() if hasattr(frame, "to_df") else frame
    with ctx.tr.span("frame.exec"):
        rows = [tuple(r) for r in df.collect()]
    ctx.action_df = df
    return rows


def _check(sql: str, ordered: bool):
    @memo
    def expected(ctx: Ctx):
        return ctx.oracle.rows(sql)

    def check(ctx: Ctx, got) -> str | None:
        return diff_rows(got, expected(ctx), ordered=ordered)

    return check


def filter_aggregate(d0: int) -> Op:
    def run(ctx: Ctx):
        kf = _fact(ctx)
        with ctx.tr.span("frame.plan"):
            g = kf.filter("dow", lambda c: c >= d0).groupby(["store_id"])
        with ctx.tr.span("operators.aggregate"):
            g = g.aggregate_many(
                [("sum", "qty"), ("mean", "price"), ("count", "id", "n")]
            )
            return _collect(ctx, g)

    sql = (
        "select store_id, sum(qty), avg(price), count(id) from fact "
        f"where dow >= {d0} group by store_id"
    )
    return Op("filter_aggregate", run, _check(sql, False), inputs.BATCH_ROWS)


def channel_pivot(channel: str) -> Op:
    def run(ctx: Ctx):
        kf = _fact(ctx)
        with ctx.tr.span("frame.plan"):
            f = kf.filter("channel", lambda c: c == channel)
        with ctx.tr.span("operators.pivot_table"):
            p = f.cast(["store_id"], ["dow"], "sum", "qty").pivot_table()
            return _collect(ctx, p)

    @memo
    def expected(ctx: Ctx):
        rows = ctx.oracle.rows(
            "select store_id, dow, sum(qty) from fact "
            f"where channel = '{channel}' group by store_id, dow"
        )
        days = sorted({r[1] for r in rows}, key=str)
        grid: dict = {}
        for s, d, v in rows:
            grid.setdefault(s, {})[d] = v
        return [(s, *[grid[s].get(d) for d in days]) for s in sorted(grid)]

    def check(ctx: Ctx, got) -> str | None:
        return diff_rows(got, expected(ctx), ordered=True)

    return Op("channel_pivot", run, check, inputs.BATCH_ROWS)


def top_scores(k: int) -> Op:
    def run(ctx: Ctx):
        kf = _fact(ctx, ordered=True)
        with ctx.tr.span("frame.plan"):
            t = kf.sort("score", SortOrder.DESCENDING).take(k)
        return _collect(ctx, t)

    sql = f"select * from fact order by score desc limit {k}"
    return Op("top_scores", run, _check(sql, True), inputs.BATCH_ROWS)


def region_merge() -> Op:
    def run(ctx: Ctx):
        kf = _fact(ctx)
        with ctx.tr.span("sources.read_parquet"):
            dim = read_parquet(ctx.spark, ctx.inputs.paths["stores"])
        with ctx.tr.span("operators.merge"):
            g = kf.merge(dim, on="store_id").groupby(["region"]).aggregate("sum", "qty")
            return _collect(ctx, g)

    sql = (
        "select region, sum(qty) from fact join stores using (store_id) "
        "group by region"
    )
    return Op("region_merge", run, _check(sql, False), inputs.BATCH_ROWS)


def channel_append(c1: str, c2: str) -> Op:
    def run(ctx: Ctx):
        left, right = _fact(ctx), _fact(ctx)
        with ctx.tr.span("frame.plan"):
            u = left.filter("channel", lambda c: c == c1).append(
                right.filter("channel", lambda c: c == c2)
            )
        with ctx.tr.span("operators.aggregate"):
            g = u.groupby(["dow"]).aggregate_many([("sum", "qty"), ("count", "id", "n")])
            return _collect(ctx, g)

    sql = (
        "select dow, sum(qty), count(id) from fact "
        f"where channel in ('{c1}', '{c2}') group by dow"
    )
    return Op("channel_append", run, _check(sql, False), 2 * inputs.BATCH_ROWS)


def warmup(ctx: Ctx) -> None:
    """The set-up's warm-up: one aggregation query."""
    filter_aggregate(0).run(ctx)


def round_ops(ctx: Ctx, rnd: int) -> list[Op]:
    rng = round_rng(ctx.seed, rnd)
    c1, c2 = (str(c) for c in rng.choice(inputs.CHANNELS, 2, replace=False))
    ops = [
        filter_aggregate(int(rng.integers(0, 4))),
        channel_pivot(str(rng.choice(inputs.CHANNELS))),
        top_scores(int(rng.integers(50, 200))),
        region_merge(),
        channel_append(c1, c2),
    ]
    # the re-run is always filter_aggregate, so every run re-runs the same kind
    return [ops[i] for i in rng.permutation(len(ops))] + [ops[0].again()]
