"""analyst_session: a seeded sequence of kevin "questions" over a small
orders CSV and a stores dimension in parquet.

Each question reads the CSV (frames are lazy, so every question re-parses
it and pays read_csv's inference pass), builds a combinator chain, asks
the row count and renders the answer: what an analyst at a REPL does.
Fixed per-question cost dominates: plan building, eager jobs, job
scheduling, CSV parsing and driver-side rendering.  Each round asks the
seven question kinds once, in a seeded order, with seeded parameters,
and asks its top_stores question again twice (re-runs with identical
inputs).
"""

from __future__ import annotations

from kevinlang_spark import SortOrder
from kevinlang_spark.render import render_frame
from kevinlang_spark.sources import read_csv, read_parquet

import inputs
from common import Ctx, Op, memo, round_rng
from oracle import diff_rows, parse_crosstab, parse_flat

#: unrecorded rounds before the measuring window: a round is long, and one leaves little drift
CONDITIONING_ROUNDS = 1
NAME = "analyst_session"
MAX_ROWS = 100


def generate(root: str, seed: int) -> inputs.Inputs:
    return inputs.analyst_inputs(root, seed)


def oracle_views(ctx: Ctx) -> None:
    p = ctx.inputs.paths
    ctx.oracle.con.execute(
        f"create or replace view orders as select * from read_csv('{p['orders']}', header=true)"
    )
    ctx.oracle.con.execute(
        f"create or replace view stores as select * from read_parquet('{p['stores']}')"
    )


def _read(ctx: Ctx):
    with ctx.tr.span("sources.read_csv"):
        return read_csv(ctx.spark, ctx.inputs.paths["orders"])


def _answer(ctx: Ctx, kf):
    """The user sees the row count and the rendered table."""
    with ctx.tr.span("frame.exec"):
        height = kf.height()
    with ctx.tr.span("render.render"):
        text = render_frame(kf, max_rows=MAX_ROWS)
    ctx.action_df = kf.to_df()
    return height, text


def _flat_check(sql: str):
    """Check a flat answer: height, header, and the first MAX_ROWS rows in
    order against ``sql`` (whose column names are the expected header)."""

    @memo
    def expected(ctx: Ctx):
        cur = ctx.oracle.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def check(ctx: Ctx, got) -> str | None:
        height, text = got
        header, rows = expected(ctx)
        if height != len(rows):
            return f"height {height}, expected {len(rows)}"
        got_header, got_rows = parse_flat(text)
        if got_header != header:
            return f"header {got_header}, expected {header}"
        return diff_rows(got_rows, rows[:MAX_ROWS])

    return check


def top_stores(t: int, k: int) -> Op:
    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("frame.plan"):
            g = kf.filter("qty", lambda c: c > t).groupby(["store"])
            with ctx.tr.span("operators.aggregate"):
                g = g.aggregate("sum", "price")
            g = g.sort("price", SortOrder.DESCENDING).take(k)
        return _answer(ctx, g)

    sql = (
        f"select store, sum(price) as price from orders where qty > {t} "
        f"group by store order by price desc, store desc limit {k}"
    )
    return Op("top_stores", run, _flat_check(sql), inputs.ANALYST_ORDERS)


def year_crosstab(y0: int) -> Op:
    """The crosstab twice: as the wide table ``pivot_table`` builds, and
    rendered."""

    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("frame.plan"):
            f = kf.filter("year", lambda c: c >= y0)
            with ctx.tr.span("operators.aggregate"):
                p = f.cast(["store", "year"], [], "sum", "qty")
            p = p.unstack("year")
        with ctx.tr.span("operators.pivot_table"):
            wide = p.pivot_table()
            with ctx.tr.span("frame.exec"):
                rows = [tuple(r) for r in wide.collect()]
        with ctx.tr.span("render.render"):
            text = render_frame(p, max_rows=MAX_ROWS)
        ctx.action_df = wide
        return rows, text

    @memo
    def expected(ctx: Ctx):
        return ctx.oracle.rows(
            f"select store, year, sum(qty) from orders where year >= {y0} "
            "group by store, year"
        )

    def check(ctx: Ctx, got) -> str | None:
        wide, text = got
        rows = expected(ctx)
        stores = sorted({r[0] for r in rows})
        years = [str(y) for y in sorted({r[1] for r in rows})]
        want = {(r[0], str(r[1])): r[2] for r in rows}
        grid = [(s, *[want.get((s, y)) for y in years]) for s in stores]
        err = diff_rows(wide, grid)
        if err:
            return f"pivot_table: {err}"
        cols, row_hdrs, cells = parse_crosstab(text)
        if cols != years or row_hdrs != stores:
            return f"headers {cols} x {row_hdrs}, expected {years} x {stores}"
        for s in stores:
            got_row = [cells[(s, y)] for y in years]
            err = diff_rows([got_row], [[want.get((s, y), "empty") for y in years]])
            if err:
                return f"render, store {s}: {err}"
        return None

    return Op("year_crosstab", run, check, inputs.ANALYST_ORDERS)


def melt_tail(a: int, m: int) -> Op:
    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("frame.plan"):
            f = kf.drop(a).take(m).select(["order_id", "qty", "price"])
            f = f.melt(["order_id"], ["qty", "price"]).tail()
        return _answer(ctx, f)

    sql = (
        f"with s as (select order_id, qty, price from orders order by order_id "
        f"limit {m} offset {a}), u as ("
        "select order_id, 'qty' as variable, qty::double as value, 0 as vp from s "
        "union all select order_id, 'price', price, 1 from s) "
        "select order_id, variable, value from u order by vp, order_id offset 1"
    )
    return Op("melt_tail", run, _flat_check(sql), inputs.ANALYST_ORDERS)


def last_big_order(store: str, k: int) -> Op:
    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("frame.plan"):
            f = kf.filter("store", lambda c: c == store)
            f = f.sort("price", SortOrder.DESCENDING).take(k).last()
        return _answer(ctx, f)

    sql = (
        f"select * from orders where store = '{store}' "
        f"order by price desc, order_id desc limit 1 offset {k - 1}"
    )
    return Op("last_big_order", run, _flat_check(sql), inputs.ANALYST_ORDERS)


def store_pair_append(a: str, b: str) -> Op:
    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("frame.plan"):
            u = kf.filter("store", lambda c: c == a).append(
                kf.filter("store", lambda c: c == b)
            )
            with ctx.tr.span("operators.aggregate"):
                g = u.groupby(["month"]).aggregate_many(
                    [("sum", "qty"), ("mean", "price"), ("count", "order_id", "n")]
                )
        return _answer(ctx, g)

    sql = (
        "select month, sum(qty) as qty, avg(price) as price, count(order_id) as n "
        f"from orders where store in ('{a}', '{b}') group by month order by month"
    )
    return Op("store_pair_append", run, _flat_check(sql), inputs.ANALYST_ORDERS)


def zip_years(y1: int, y2: int, m: int) -> Op:
    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("frame.plan"):
            l = kf.filter("year", lambda c: c == y1).take(m).select(["order_id", "price"])
            r = kf.filter("year", lambda c: c == y2).take(m).select(["store", "qty"])
            z = l.join(r)
        return _answer(ctx, z)

    sql = (
        f"with a as (select order_id, price, row_number() over (order by order_id) rn "
        f"from orders where year = {y1} order by order_id limit {m}), "
        f"b as (select store, qty, row_number() over (order by order_id) rn "
        f"from orders where year = {y2} order by order_id limit {m}) "
        "select a.order_id, a.price, b.store, b.qty from a join b using (rn) order by rn"
    )
    return Op("zip_years", run, _flat_check(sql), inputs.ANALYST_ORDERS)


def region_merge() -> Op:
    def run(ctx: Ctx):
        kf = _read(ctx)
        with ctx.tr.span("sources.read_parquet"):
            dim = read_parquet(ctx.spark, ctx.inputs.paths["stores"], ordered=True)
        with ctx.tr.span("frame.plan"):
            with ctx.tr.span("operators.merge"):
                m = kf.merge(dim, on="store", broadcast_other=True)
            with ctx.tr.span("operators.aggregate"):
                g = m.groupby(["region"]).aggregate("sum", "qty")
        return _answer(ctx, g)

    sql = (
        "select region, sum(qty) as qty from orders join stores using (store) "
        "group by region order by region"
    )
    return Op("region_merge", run, _flat_check(sql), inputs.ANALYST_ORDERS)


def warmup(ctx: Ctx) -> None:
    """The set-up's warm-up: one question of the cheapest kind."""
    top_stores(10, 5).run(ctx)


def round_ops(ctx: Ctx, rnd: int) -> list[Op]:
    rng = round_rng(ctx.seed, rnd)
    stores = [f"s{i:02d}" for i in range(inputs.ANALYST_STORES)]
    a, b = rng.choice(stores, 2, replace=False)
    y1, y2 = (int(y) for y in rng.choice(range(2015, 2025), 2, replace=False))
    ops = [
        top_stores(int(rng.integers(3, 16)), int(rng.integers(5, 16))),
        year_crosstab(int(rng.integers(2015, 2020))),
        melt_tail(int(rng.integers(0, 5000)), int(rng.integers(150, 400))),
        last_big_order(str(rng.choice(stores)), int(rng.integers(5, 50))),
        store_pair_append(str(a), str(b)),
        zip_years(y1, y2, int(rng.integers(50, 150))),
        region_merge(),
    ]
    # the re-runs are always top_stores, so every run re-runs the same kind
    again = ops[0].again()
    ops = [ops[i] for i in rng.permutation(len(ops))]
    return ops[:4] + [again] + ops[4:] + [again]
