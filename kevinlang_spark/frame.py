"""KevinFrame — the engine's DataFrame wrapper.

The reference models a frame as ``(Indices, Groups, TitleTrees, [Field])``
(src/Data/DataFrame.hs:65-72): columnar storage plus an ordered row-id view,
grouping state carried *on* the frame, and pivot presentation state.  Spark
DataFrames are unordered multisets with transient grouping, so the wrapper
carries the state Spark does not:

- **order**: a hidden ``__idx`` LongType column gives rows stable identity
  (reference Indices, DataFrame.hs:66-67), and a LAZY ``order spec`` — a
  tuple of (column, ascending) pairs ending in the ``__idx`` entry (then,
  after a ``merge``, the right row's index) — is the current row order,
  the one value that says it; ``()`` means unordered.
  ``sort`` only rewrites the spec (no job, no shuffle); ``take`` compiles
  to ``orderBy().limit()`` (Catalyst's parallel TakeOrderedAndProject);
  dense positions are materialized via a window ONLY for the inherently
  positional ops (zip join, order-sensitive concat) — which are
  presentation-scale by definition.  ``from_df(df, ordered=False)`` skips
  all of it: the 100 TB mode, where order-sensitive combinators raise
  instead of sorting.
- **groups**: ``group_cols`` (reference Groups, DataFrame.hs:68) — recorded
  by ``groupby``, consumed by ``aggregate``; realized as ``df.groupBy`` only
  at aggregation time so Catalyst sees one logical plan.
- **pivot**: ``(row_fields, col_fields, value_field)`` (reference TitleTrees,
  DataFrame.hs:42) — pure presentation state consumed by ``pivot_table``,
  the crosstab renderer and pivot ``height``/``width``, which all read the
  crosstab's cells from one kept fetch (``_kept_cells``).

Everything else is a lazy Catalyst plan: each combinator returns a new
wrapper over a transformed ``pyspark.sql.DataFrame``; nothing executes until
an action.

Descending-sort tie semantics (reference Combinator.hs:229-230): descending
is the REVERSE of the ascending result, so a descending sort prepends
``(field, desc)`` AND flips the direction of every older order component —
reproduced exactly by the spec-flip in ``sort``.
"""

from __future__ import annotations

import enum
import functools
import importlib
import inspect
import math
from dataclasses import dataclass
from typing import Callable, Iterable, Sequence

from pyspark.errors import SparkRuntimeException
from pyspark.sql import Column, DataFrame, Observation, Row, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kevinlang_spark.errors import (
    KevinFieldError,
    KevinPivotError,
    KevinTypeError,
    KevinValueError,
)
from kevinlang_spark.operators import aggregators as agglib
from kevinlang_spark.traits import (
    NUM_MEASURE,
    TEXT_DIM,
    FieldTraits,
    infer_traits_for_spark_type,
)

#: hidden order column (reference Indices, DataFrame.hs:66-67)
IDX = "__idx"

#: order spec entry: (column name, ascending?)
OrderSpec = tuple[tuple[str, bool], ...]

#: the order spec of a frame whose rows are in ascending ``__idx`` order
_BY_IDX: OrderSpec = ((IDX, True),)

#: most rows an action fetches to keep on the frame as its answer
_ROWS_BOUND = 10_000

#: the reference's error for a crosstab cell with two values (DataFrame.hs:145)
MANY_VALUES = "invalid data (many values for the same index)"


def _many_values(e: SparkRuntimeException) -> bool:
    """Whether ``e`` is a crosstab cell's ``MANY_VALUES`` guard firing."""
    return e.getMessageParameters().get("errorMessage") == MANY_VALUES


class SortOrder(enum.Enum):
    ASCENDING = "asc"
    DESCENDING = "desc"


@dataclass(frozen=True)
class PivotState:
    """Reference TitleTrees (DataFrame.hs:42): which fields head the row/col
    hierarchies and which single field supplies cell values."""

    row_fields: tuple[str, ...]
    col_fields: tuple[str, ...]
    value_field: str


@dataclass(frozen=True)
class _Cells:
    """A crosstab's cells as one long fetch returns them: the row paths in
    order, the col paths in sort order with their pivot keys (``()`` and
    ``None`` when the col tree is empty), and the value of each non-empty
    cell by (row, col) position."""

    rows: list[tuple]
    cols: list[tuple]
    keys: list[str | None]
    values: dict[tuple[int, int], object]


def _order_key(v):
    """Sort key giving Spark's ascending NULLS FIRST order (NaN after
    +inf, arrays and structs element by element) to collected values."""
    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (2,)
    if isinstance(v, (list, tuple)):
        return (1, tuple(_order_key(e) for e in v))
    return (1, v)


def _as_name_list(names) -> list[str]:
    """Reference VaridicParam (Combinator.hs:38-44): one name or a list;
    anything non-string raises 'invalid field name' (Combinator.hs:74-76)."""
    if isinstance(names, str):
        return [names]
    if isinstance(names, Iterable):
        out = []
        for n in names:
            if not isinstance(n, str):
                raise KevinTypeError("invalid field name")
            out.append(n)
        return out
    raise KevinTypeError("invalid field name")


def _q(name: str) -> "Column":
    """Backtick-quoted column reference: user column names may contain
    dots (legal in CSV headers and parquet), which bare F.col would parse
    as nested-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _lit(v, dtype: T.DataType) -> Column:
    """``v``, a collected value of type ``dtype``, as a literal of that
    type (``F.lit`` builds no struct literal)."""
    if v is not None and isinstance(dtype, T.StructType):
        return F.struct(*[_lit(x, f.dataType).alias(f.name) for x, f in zip(v, dtype.fields)])
    if v is not None and isinstance(dtype, T.ArrayType):
        return F.array(*[_lit(x, dtype.elementType) for x in v]).cast(dtype)
    return F.lit(v).cast(dtype)


class KevinFrame:
    """Immutable combinator-algebra frame over a Spark DataFrame.

    The row order is one value, ``order_spec``: (column, ascending) pairs
    ending in the ``__idx`` entry, as the reference keeps one ``Indices``
    list (DataFrame.hs:66-67); ``()`` means unordered, and ``ordered`` is
    just ``bool(order_spec)``.  A ``merge`` that can match a left row
    more than once appends the right row's index, so the spec stays a
    unique key.  A frame built over a DataFrame with an
    ``__idx`` column is in ascending ``__idx`` order (``_BY_IDX``).  A
    descending ``sort`` flips every entry, ``__idx`` included, and ops
    that renumber ``__idx`` (``append``, ``join``) reset the spec to
    ``_BY_IDX``.

    The first action that fetches every row of ``to_df()`` fixes the
    frame's rows: ``height`` or ``collect`` of at most ``_ROWS_BOUND``
    rows, or a render or Vega-Lite spec (``viz.gen_babel``) of at most
    ``max_rows``.  Later actions on the same frame read them and run no
    Spark job, and a source rewritten in between is not read again — as
    the reference's ``height`` and ``show`` read one in-memory frame
    (DataFrame.hs:65-172).

    A flat frame whose plan bounds its rows (Catalyst's ``maxRows``) at
    ``_ROWS_BOUND`` or fewer is *bounded*, and the positional ops —
    ``head``, ``tail``, ``init``, ``last`` and ``join`` — fetch it once
    with one bounded collect (``_bounded_rows``) instead of running their
    own check job; on any other frame they keep their one job.  A
    positional derivation (``take``, ``drop`` and the ops built on them,
    ``last``, ``join``) reads its parent's rows when the parent holds
    them: the result keeps its slice, so its ``height`` and render run
    no job and show the rows the parent fetched — as the reference's
    slicing and zip join read one index list (Combinator.hs:293-360).
    The cost: ``head``/``last`` on a bounded frame of n rows ship those
    n rows to the driver, where a lone check shipped at most one.

    A frame in pivot form keeps its crosstab's cells the same way: the
    first of ``pivot_table``, a render, ``height`` or ``width`` fetches
    them once (at most ``_ROWS_BOUND`` cells) and the others read them.
    Any other derived frame starts without rows or cells."""

    def __init__(
        self,
        df: DataFrame,
        traits: dict[str, FieldTraits] | None = None,
        group_cols: Sequence[str] = (),
        pivot: PivotState | None = None,
        order_spec: OrderSpec | None = None,
    ):
        if order_spec is None:
            order_spec = _BY_IDX if IDX in df.columns else ()
        if order_spec and IDX not in df.columns:
            raise KevinValueError(f"ordered frame requires a {IDX} column")
        self._df = df
        self.group_cols = tuple(group_cols)
        self.pivot = pivot
        #: the row order: [(col, asc), ...] ending in (__idx, asc); () = unordered
        self.order_spec: OrderSpec = tuple(order_spec)
        #: the rows of ``to_df()`` in frame order, once an action fetched them all
        self._rows: list | None = None
        #: the crosstab's cells once fetched; False when they exceed _ROWS_BOUND
        self._cells: _Cells | bool | None = None
        #: ``to_df()``'s plan once built
        self._user_df: DataFrame | None = None
        if traits is None:
            traits = {
                f.name: infer_traits_for_spark_type(f.name, f.dataType)
                for f in df.schema.fields
                if not f.name.startswith("__")
            }
        self.traits = dict(traits)

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        ordered: bool = True,
        traits: dict[str, FieldTraits] | None = None,
    ) -> "KevinFrame":
        """Wrap a plain Spark DataFrame.

        ``ordered=True`` attaches ``__idx`` from the source's encounter order
        via ``monotonically_increasing_id`` — fully parallel (no shuffle,
        id = partition_id << 33 | row_in_partition), unique and
        order-preserving for any deterministic source.  Dense 1..n numbering
        is computed lazily only by the ops that need true positions.
        """
        if ordered and IDX not in df.columns:
            df = df.withColumn(IDX, F.monotonically_increasing_id())
        return cls(df, traits=traits, order_spec=_BY_IDX if ordered else ())

    @property
    def ordered(self) -> bool:
        """Whether rows have an order (a non-empty order spec)."""
        return bool(self.order_spec)

    @property
    def df(self) -> DataFrame:
        """The underlying Spark DataFrame including hidden columns."""
        return self._df

    def to_df(self) -> DataFrame:
        """User-facing DataFrame: hidden columns dropped, rows in frame
        order (a parallel range-partitioned sort, not a window).  The
        plan is built on the first call and the same DataFrame is
        returned after that: the frame is immutable, and each Column
        built in Python costs Py4J round trips."""
        if self._user_df is None:
            df = self._df.orderBy(*self._order_cols()) if self.ordered else self._df
            self._user_df = df.select(*[_q(c) for c in self.columns])
        return self._user_df

    @property
    def columns(self) -> list[str]:
        return [c for c in self._df.columns if not c.startswith("__")]

    # ------------------------------------------------------------------ #
    # ordering internals
    # ------------------------------------------------------------------ #

    def _order_cols(self, reverse: bool = False) -> list[Column]:
        """The row order (the order spec) as sort columns; ``reverse=True``
        gives its exact reverse."""
        return [
            _q(name).asc_nulls_first() if asc != reverse else _q(name).desc_nulls_last()
            for name, asc in self.order_spec
        ]

    def _derive(
        self,
        df: DataFrame,
        *,
        traits: dict[str, FieldTraits] | None = None,
        group_cols: Sequence[str] | None = None,
        pivot: PivotState | None | str = "keep",
        order_spec: OrderSpec | None = None,
    ) -> "KevinFrame":
        return KevinFrame(
            df,
            traits=self.traits if traits is None else traits,
            group_cols=self.group_cols if group_cols is None else group_cols,
            pivot=self.pivot if pivot == "keep" else pivot,
            order_spec=self.order_spec if order_spec is None else order_spec,
        )

    def _stable_agg_idx(self, df: DataFrame, traits: dict[str, FieldTraits]) -> "KevinFrame":
        """The frame of ``df``, an aggregation of this frame's groups:
        groups cleared, and, when this frame is ordered, ``__idx`` stamped
        DETERMINISTICALLY and rows ascending by group key, then ``__idx``.
        An unordered frame's aggregation is unordered.

        ``monotonically_increasing_id`` on a shuffle output numbers rows
        by arrival order, which can permute between job re-executions —
        a key captured in one job (init/last) would then select a
        DIFFERENT row in the next.  Group keys are unique per output row,
        so a key hash is a stable identity; it is kept non-negative so
        ``append``'s offset arithmetic stays valid.  (The ~1e-19 chance
        of a 62-bit collision merely makes two rows tie in an order the
        key-based spec has already decided.)  A global aggregate has
        exactly one row, ``__idx`` 0."""
        keys = self.group_cols
        spec: OrderSpec = ()
        if self.ordered:
            idx = F.pmod(F.xxhash64(*[_q(k) for k in keys]), F.lit(1 << 62)) if keys else F.lit(0)
            df = df.withColumn(IDX, idx.cast("long"))
            spec = tuple((k, True) for k in keys) + _BY_IDX
        return self._derive(df, traits=traits, group_cols=(), pivot=None, order_spec=spec)

    def _require_ordered(self, op: str) -> None:
        if not self.ordered:
            raise KevinValueError(
                f"{op} requires an ordered frame; this frame was built with "
                "ordered=False (the large-scale mode). Re-ingest with "
                "ordered=True for order-sensitive combinators."
            )

    def _materialized(self, force: bool = False) -> "KevinFrame":
        """Renumber ``__idx`` to dense 1..n positions under the current
        order, so the spec becomes ``_BY_IDX``.  A no-op when it already
        is (no sort pending); ``force=True`` renumbers even then (the zip
        join needs dense 1..n on both sides; raw
        ``monotonically_increasing_id`` values are sparse).

        Uses an un-partitioned window — a single-partition sort.  Only the
        inherently positional ops (zip join, concat, and ``append`` or
        ``melt`` of a side with a pending sort) pay this; everything else
        stays on the lazy spec.
        """
        if not force and self.order_spec == _BY_IDX:
            return self
        df = self._df.withColumn(
            IDX,
            F.row_number().over(Window.orderBy(*self._order_cols())).cast("long"),
        )
        # dropping now-unreferenced hidden helper cols (e.g. melt's __vpos)
        helpers = [c for c in df.columns if c.startswith("__") and c != IDX]
        spec_cols = {n for n, _ in self.order_spec}
        drop = [c for c in helpers if c in spec_cols]
        return self._derive(df.drop(*drop), order_spec=_BY_IDX)

    def _check_field(self, name: str) -> None:
        if name not in self.columns:
            raise KevinFieldError("no such field")

    def _check_agg_kind(self, field: str, kind: str) -> None:
        """Reference PolyParam type dispatch: numeric aggregators on a
        non-numeric column (or concat on a numeric one) → 'invalid type'
        (Combinator.hs:140/174/192, test/Spec.lhs:83-95)."""
        if kind == "any":
            return
        dtype = self._df.schema[field].dataType
        is_num = isinstance(dtype, T.NumericType)
        if kind == "numeric" and not is_num:
            raise KevinTypeError("invalid type")
        if kind == "string" and not isinstance(dtype, T.StringType):
            raise KevinTypeError("invalid type")

    # ------------------------------------------------------------------ #
    # projection / filter (reference Combinator.hs:46-55, 122-200)
    # ------------------------------------------------------------------ #

    def select(self, names) -> "KevinFrame":
        """Project + reorder columns to the requested order.

        Unknown names are silently dropped (can yield a column-empty frame) —
        reference Combinator.hs:46-55.  Keeps order and groups; clears pivot.
        """
        wanted = [n for n in _as_name_list(names) if n in self.columns]
        hidden = [c for c in self._df.columns if c.startswith("__")]
        traits = {n: self.traits[n] for n in wanted if n in self.traits}
        group_cols = tuple(g for g in self.group_cols if g in wanted)
        # the pending order spec may reference columns being projected away
        # (sort("cost").select(["city"])): retain them under hidden names so
        # the order survives without a materializing window
        spec = []
        extra = []
        for i, (n, asc) in enumerate(self.order_spec):
            if n in wanted or n.startswith("__"):
                spec.append((n, asc))
            else:
                h = f"__ord{i}_{n}"
                extra.append(_q(n).alias(h))
                spec.append((h, asc))
        return self._derive(
            self._df.select(*[_q(c) for c in wanted], *extra, *hidden),
            traits=traits,
            group_cols=group_cols,
            pivot=None,
            order_spec=tuple(spec),
        )

    def filter(self, field, pred=None) -> "KevinFrame":
        """Row filter.  Two surfaces:

        - ``filter(col_expr)`` — a Spark Column predicate (the fast path:
          stays in codegen, pushes down to the scan).
        - ``filter(name, fn)`` — reference surface (Combinator.hs:123):
          ``fn`` is applied to the named column.  If ``fn`` composes Column
          expressions (e.g. ``lambda c: c > 500``) it stays JVM-side; a
          genuinely opaque Python predicate should use ``filter_udf``.

        NULL semantics match the reference: Empty → row dropped
        (Combinator.hs:132/164/182 ≡ SQL NULL → not-true → dropped).
        Unknown field → 'no such field' (Combinator.hs:199).
        Clears groups (reference filter' rebuilds with emptyGroups).
        Filtering never disturbs the order spec — surviving rows keep
        their relative order, like the reference's index view.
        """
        if pred is None:
            if not isinstance(field, Column):
                raise KevinTypeError("filter(expr) requires a Column predicate")
            cond = field
        else:
            if not isinstance(field, str):
                raise KevinTypeError("invalid field name")
            self._check_field(field)
            cond = pred(_q(field))
            if not isinstance(cond, Column):
                raise KevinTypeError(
                    "predicate did not produce a Column expression; use "
                    "filter_udf for opaque Python predicates"
                )
        return self._derive(self._df.where(cond), group_cols=(), pivot=None)

    def filter_udf(self, field: str, fn: Callable, kind: str = "double") -> "KevinFrame":
        """Reference's arbitrary-host-predicate surface (PolyParam,
        Combinator.hs:122-156) for predicates not expressible as Column
        expressions.  Runs as an Arrow-batched pandas UDF (the ~10-100×
        faster slow path), with the reference's per-kind dispatch:

        - ``'double'``/``'float'`` (filterReals, Combinator.hs:158-164):
          numeric column required; predicate sees a float.
        - ``'int'``/``'word'`` (filterInts, Combinator.hs:176-182):
          numeric column required; values convert via the reference's
          ``toBoundedInteger`` — a FRACTIONAL value (or a negative one
          for the unsigned ``word``) has no bounded-integer form, so the
          reference's ``fromJust`` crashes; we raise 'inconsistent type'
          at evaluation, per value, like the reference does.
        - ``'str'`` (PolyParam String, Combinator.hs:126-132): string
          column required.

        NULL → row dropped (all kinds; reference's ``_ -> False``).
        """
        from pyspark.sql.functions import pandas_udf

        self._check_field(field)
        dtype = dict(self._df.dtypes)[field]
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}
        is_num = any(dtype.startswith(n) for n in numeric)
        if kind in ("double", "float", "int", "word") and not is_num:
            raise KevinTypeError("inconsistent type")
        if kind in ("str", "string") and dtype != "string":
            raise KevinTypeError("inconsistent type")
        integral_dtype = dtype in ("tinyint", "smallint", "int", "bigint")

        def _apply(v):
            if v is None:
                return False
            if kind in ("int", "word"):
                if not integral_dtype:
                    # reference toBoundedInteger: Nothing for NaN/±Inf,
                    # fractional, or out-of-Int64-range → fromJust crash
                    if (
                        v != v  # NaN
                        or v in (float("inf"), float("-inf"))
                        or not (-(2**63) <= v < 2**63)
                        or v != int(v)
                    ):
                        raise KevinTypeError("inconsistent type")
                iv = int(v)
                if kind == "word" and iv < 0:
                    raise KevinTypeError("inconsistent type")
                return bool(fn(iv))
            if kind in ("double", "float"):
                return bool(fn(float(v)))
            return bool(fn(v))

        @pandas_udf("boolean")
        def _pred(s):
            return s.map(_apply)

        return self._derive(self._df.where(_pred(_q(field))), group_cols=(), pivot=None)

    def with_column(
        self, name: str, col: Column, traits: FieldTraits | None = None
    ) -> "KevinFrame":
        """Derived column (engine extension; the reference has no scalar
        expression language — SURVEY §2.8 — so this is pure Spark surface)."""
        out = self._df.withColumn(name, col)
        new_traits = dict(self.traits)
        new_traits[name] = traits or infer_traits_for_spark_type(
            name, out.schema[name].dataType
        )
        return self._derive(out, traits=new_traits)

    # ------------------------------------------------------------------ #
    # grouping / aggregation (reference Combinator.hs:56-72, 202-226)
    # ------------------------------------------------------------------ #

    def groupby(self, names) -> "KevinFrame":
        """Record grouping state on the frame (reference Combinator.hs:56-72).

        Unknown key names are silently ignored (reference goes through
        ``select``).  The frame's rows are unchanged; groups are realized at
        ``aggregate`` time, where output groups come out ascending by key —
        deferred exactly like Catalyst defers the physical aggregation.
        """
        keys = [n for n in _as_name_list(names) if n in self.columns]
        return self._derive(self._df, group_cols=tuple(keys), pivot=None)

    def aggregate(self, agg, field: str, alias: str | None = None) -> "KevinFrame":
        """Grouped scalar aggregation of ONE column (reference
        Combinator.hs:202-226): output = group-key columns + aggregated
        column, groups ascending by key tuple, groups cleared.  No groups
        recorded → one global row (Combinator.hs:210-212).

        ``agg`` is a registry name ('sum', 'mean', 'count', 'variance', 'sd',
        'concat', ...) or any ``(col, idx) -> Column`` callable.  All registry
        aggregators are JVM built-ins → partial (map-side) aggregation +
        whole-stage codegen.  The ascending-by-key output order is carried as
        a lazy order spec — NO window, NO extra shuffle beyond the groupBy
        itself, so this is safe at any group cardinality.
        """
        return self.aggregate_many([(agg, field, alias)])

    def aggregate_many(self, specs) -> "KevinFrame":
        """Grouped aggregation of MANY columns in ONE ``groupBy`` — a
        single shuffle computes every statistic (engine extension: the
        reference's ``aggregate`` is one-column by design,
        Combinator.hs:202-226, which forces one scan per statistic; at
        scale that multiplies both the scan and the shuffle).

        ``specs`` is a sequence of ``(agg, field)`` or
        ``(agg, field, alias)`` tuples with the same per-spec semantics
        as ``aggregate`` (registry names or callables, kind checks,
        count→float).  Output: group keys + one column per spec, groups
        ascending by key, groups cleared.
        """
        specs = list(specs)
        if not specs:
            raise KevinValueError("aggregate_many requires at least one spec")
        base = self
        if self.ordered and any(
            isinstance(s[0], str) and s[0] == "concat" for s in specs
        ):
            base = self._materialized()
        idx_col = F.col(IDX) if base.ordered else None

        exprs = []
        names = []
        for spec in specs:
            agg, field = spec[0], spec[1]
            alias = spec[2] if len(spec) > 2 and spec[2] else field
            if field not in self.columns:
                raise KevinFieldError("no such field")
            if alias in names or alias in base.group_cols:
                raise KevinValueError(f"duplicate output column {alias!r}")
            fn, kind = agglib.resolve(agg)
            self._check_agg_kind(field, kind)
            exprs.append(fn(_q(field), idx_col).alias(alias))
            names.append(alias)

        if base.group_cols:
            out = base._df.groupBy(*[_q(k) for k in base.group_cols]).agg(*exprs)
        else:
            out = base._df.agg(*exprs)
        traits = {k: base.traits[k] for k in base.group_cols if k in base.traits}
        for name in names:
            dtype = out.schema[name].dataType
            traits[name] = (
                TEXT_DIM if isinstance(dtype, T.StringType) else NUM_MEASURE
            )
        return base._stable_agg_idx(out, traits)

    def aggregate_udf(
        self,
        fold: Callable,
        field: str,
        alias: str | None = None,
        return_type: str = "double",
    ) -> "KevinFrame":
        """Arbitrary host-language fold (reference PolyParam aggregate,
        Combinator.hs:124) as an Arrow-batched grouped-agg pandas UDF.
        ``fold`` receives the group's values as a pandas Series and returns
        a scalar.  Built through ``aggregate_many``, so it checks, orders
        and labels its output exactly as ``aggregate`` does.
        """
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        @pandas_udf(return_type, PandasUDFType.GROUPED_AGG)
        def _fold(v):
            return fold(v)

        return self.aggregate_many([(lambda c, _idx: _fold(c), field, alias)])

    def apply_grouped(self, fn, schema: str) -> "KevinFrame":
        """Grouped-map pandas UDF (``applyInPandas``): ``fn(pdf) -> pdf``
        receives each group as an Arrow-batched pandas DataFrame and returns
        any number of rows with ``schema``.  The general escape hatch for
        per-group logic no built-in expresses (reference analogue: its
        whole UDF story is arbitrary host functions, Combinator.hs:122-124).

        Output is unordered (group-map results have no defined row order).
        """
        if not self.group_cols:
            raise KevinValueError("apply_grouped requires groupby() first")
        base = self._df.select(*[_q(c) for c in self.columns])
        out = base.groupBy(*[_q(k) for k in self.group_cols]).applyInPandas(fn, schema=schema)
        return KevinFrame(out, order_spec=())

    def transform_grouped(
        self, agg, field: str, alias: str | None = None
    ) -> "KevinFrame":
        """Grouped TRANSFORM (reference test/Spec.lhs:119 lists
        "aggregate v.s. transform" as an open design question — this is the
        transform half): every row keeps its identity and gains the
        group-level aggregate of ``field``, e.g. each row tagged with its
        group's mean.

        Realized as a window aggregate partitioned by the group keys — one
        shuffle on the keys, rows never leave executors, order preserved.
        """
        window_aggs = {
            "sum": F.sum,
            "mean": F.avg,
            "avg": F.avg,
            "count": F.count,
            "variance": F.var_pop,
            "var": F.var_pop,
            "sd": F.stddev_pop,
            "stddev": F.stddev_pop,
            "median": F.median,
            "min": F.min,
            "max": F.max,
        }
        if field not in self.columns:
            raise KevinFieldError("no such field")
        if not isinstance(agg, str) or agg not in window_aggs:
            raise KevinTypeError(
                f"transform supports {sorted(window_aggs)}; got {agg!r}"
            )
        _, kind = agglib.resolve(agg)
        self._check_agg_kind(field, kind)
        out_name = alias or f"{field}_{agg}"
        if self.group_cols:
            expr = window_aggs[agg](_q(field)).over(
                Window.partitionBy(*[_q(k) for k in self.group_cols])
            )
            if agg == "count":
                expr = expr.cast("double")  # reference count returns float
            out = self._df.withColumn(out_name, expr)
        else:
            # global transform: an unpartitioned window would funnel every
            # row through ONE task — compute the scalar with a normal
            # aggregation and attach it via a broadcast cross join instead
            scalar = self._df.agg(window_aggs[agg](_q(field)).alias(out_name))
            if agg == "count":
                scalar = scalar.select(F.col(out_name).cast("double").alias(out_name))
            out = self._df.crossJoin(F.broadcast(scalar))
        traits = dict(self.traits)
        traits[out_name] = NUM_MEASURE
        return self._derive(out, traits=traits)

    # ------------------------------------------------------------------ #
    # sort / slicing (reference Combinator.hs:228-237, 293-315)
    # ------------------------------------------------------------------ #

    def sort(self, field: str, order: SortOrder = SortOrder.ASCENDING) -> "KevinFrame":
        """Reorder rows by one column (reference Combinator.hs:228-237).

        Pure metadata: rewrites the lazy order spec; no job runs.
        Ascending is a stable sort — ties keep the current order, so the
        current spec becomes the tiebreak.  Descending is the REVERSE of
        the ascending result (Combinator.hs:229-230) — prepend (field desc)
        and flip every older component.  Unknown field → rows unchanged
        (reference fallback, Combinator.hs:237).  Keeps groups; clears
        pivot (the reference constructor stamps Nothing for the TitleTrees
        on every sort, Combinator.hs:228-230 — even the unknown-field case).
        """
        self._require_ordered("sort")
        if field not in self.columns:
            return self._derive(self._df, pivot=None)
        if order == SortOrder.ASCENDING:
            spec = ((field, True),) + self.order_spec
            return self._derive(self._df, order_spec=spec, pivot=None)
        spec = ((field, False),) + tuple((n, not a) for n, a in self.order_spec)
        return self._derive(self._df, order_spec=spec, pivot=None)

    def take(self, n: int) -> "KevinFrame":
        """First n rows of the view (reference Combinator.hs:293-295);
        n<=0 → row-empty, n>height → all rows.

        Compiles to ``orderBy(spec).limit(n)`` — Catalyst's
        TakeOrderedAndProject: each partition computes its local top-n,
        the driver merges; fully parallel, no global sort.
        """
        self._require_ordered("take")
        if n <= 0:
            return self._sliced(self._df.where(F.lit(False)), slice(0))
        return self._sliced(self._df.orderBy(*self._order_cols()).limit(n), slice(n))

    def drop(self, n: int) -> "KevinFrame":
        """All but the first n rows (reference Combinator.hs:297-299);
        ``orderBy(spec).offset(n)``."""
        self._require_ordered("drop")
        if n <= 0:
            return self._sliced(self._df, slice(None))
        return self._sliced(self._df.orderBy(*self._order_cols()).offset(n), slice(n, None))

    def _sliced(self, df: DataFrame, part: slice) -> "KevinFrame":
        """A positional derivation over ``df``, the lazy plan of ``part``
        of this frame's rows; it keeps that part of the kept rows."""
        out = self._derive(df, pivot=None)
        if self._rows is not None:
            out._rows = self._rows[part]
        return out

    def _row_bound(self) -> int | None:
        """Catalyst's bound on a flat frame's rows (``maxRows``) when it
        is at most ``_ROWS_BOUND``: the frame is *bounded*.  None for any
        other frame."""
        if self.pivot is None:
            m = self._df._jdf.queryExecution().optimizedPlan().maxRows()
            if m.isDefined() and m.get() <= _ROWS_BOUND:
                return m.get()
        return None

    def _bounded_rows(self) -> list | None:
        """The frame's rows: the kept ones, else those of a bounded frame,
        fetched with one bounded collect (``_head_rows``) and kept.  None
        for any other frame, which no job has fetched."""
        if self._rows is None and (m := self._row_bound()) is not None:
            self._head_rows(m)  # at most m rows come back, so all are kept
        return self._rows

    def _row_count(self) -> int:
        """Underlying row count — slicing operates on ROWS even in pivot
        form (the reference's slicing works on Indices regardless of
        TitleTrees; only height()/width() switch to leaf counts)."""
        rows = self._bounded_rows()
        return len(rows) if rows is not None else self._df.count()

    def _check_nonempty(self, op: str) -> None:
        # a bounded frame answers from its one fetch; otherwise isEmpty
        # reads at most one partition — head() on a huge frame must not
        # pay a full count scan
        rows = self._bounded_rows()
        empty = not rows if rows is not None else self._df.isEmpty()
        if empty:
            raise KevinValueError(f"{op}: empty data frame")

    def head(self) -> "KevinFrame":
        """First row only; errors on a row-empty frame (reference uses
        Prelude.head — see test/Spec.lhs:33).  A bounded frame is fetched
        once, and the result keeps the first of its rows."""
        self._require_ordered("head")
        self._check_nonempty("head")
        return self.take(1)

    def tail(self) -> "KevinFrame":
        """All but the first row; errors on empty (Combinator.hs:313-315).
        A bounded frame is fetched once and the result keeps all but the
        first of its rows, so its ``height`` and render run no job; any
        other frame checks emptiness with ``isEmpty``."""
        self._require_ordered("tail")
        self._check_nonempty("tail")
        return self.drop(1)

    def _is_last_row(self, op: str) -> Column:
        """A predicate true on the view's last row alone: every order spec
        column null-safely equal to that row's value.  The spec's key is
        unique per row even where ``__idx`` repeats (``melt`` adds its
        variable position).  One reverse-order top-1 job finds it
        (TakeOrderedAndProject: per-partition top-1, tiny merge) — no full
        count, no single-partition shuffle — and checks emptiness: no row
        raises ``op``'s empty-frame error."""
        names = [n for n, _ in self.order_spec]
        row = self._df.orderBy(*self._order_cols(reverse=True)).select(
            *[_q(n) for n in names]
        ).first()
        if row is None:
            raise KevinValueError(f"{op}: empty data frame")
        types = [self._df.schema[n].dataType for n in names]
        return functools.reduce(
            Column.__and__,
            [_q(n).eqNullSafe(_lit(v, t)) for n, v, t in zip(names, row, types)],
        )

    def init(self) -> "KevinFrame":
        """All but the last row; errors on empty (Combinator.hs:305-307).

        A bounded frame is fetched once, and the result is ``take(n - 1)``
        keeping all but the last of its rows.  Any other frame is planned
        as a distributed filter on the last row's order key (one cheap
        reverse top-1 job, ``_is_last_row``) — not count-then-limit, which
        paid a full count and funneled n-1 rows through a global limit —
        and the result keeps all but the last of the rows the frame holds,
        if any."""
        self._require_ordered("init")
        if self._row_bound() is None:
            return self._sliced(self._df.where(~self._is_last_row("init")), slice(-1))
        self._check_nonempty("init")
        return self.take(len(self._rows) - 1)

    def last(self) -> "KevinFrame":
        """Last row only; errors on empty (Combinator.hs:309-311).

        Planned as a reverse-order top-1: the order spec is total, so that
        is the last row even where ``__idx`` repeats (``melt``).  A
        bounded frame is fetched once and the result keeps the last of its
        rows; any other frame checks emptiness with one reverse top-1 job
        (``_is_last_row``)."""
        self._require_ordered("last")
        if self._bounded_rows() is None:
            self._is_last_row("last")
        else:
            self._check_nonempty("last")
        return self._sliced(
            self._df.orderBy(*self._order_cols(reverse=True)).limit(1), slice(-1, None)
        )

    # ------------------------------------------------------------------ #
    # size (reference Combinator.hs:278-291)
    # ------------------------------------------------------------------ #

    def height(self) -> int:
        """Visible row count; on pivot frames, the row-tree leaf count
        (1 if the row tree is empty) — reference Combinator.hs:278-291.

        A bounded frame (see the class docstring) fetches its rows with
        one bounded collect and keeps them, which fixes the frame's rows
        (``_bounded_rows``).  Any other ordered frame fetches its first
        ``_ROWS_BOUND + 1`` rows in one job whose plan also counts every
        row (``DataFrame.observe`` under the top-k sort, which reads them
        all): a count within the bound keeps the rows, a larger one is
        returned and nothing is kept.  An unordered frame runs a
        ``count()``.  A pivot frame counts the row paths of its kept
        crosstab cells (see ``_kept_cells``)."""
        if self.pivot is not None:
            return self._leaf_count(self.pivot.row_fields, "rows")
        if self._bounded_rows() is None:
            if not self.ordered:
                return self._df.count()
            seen = Observation()
            counted = self._derive(self._df.observe(seen, F.count(F.lit(1)).alias("n")))
            rows = counted.to_df().limit(_ROWS_BOUND + 1).collect()
            n = seen.get["n"]
            if n > _ROWS_BOUND:
                return n
            self._rows = rows
        return len(self._rows)

    def width(self) -> int:
        if self.pivot is not None:
            return self._leaf_count(self.pivot.col_fields, "cols")
        return len(self.columns)

    def _leaf_count(self, fields: Sequence[str], paths: str) -> int:
        """Leaf count of a title tree (1 if it is empty): its paths among
        the kept crosstab cells, else a distinct count — also when a cell
        holds two rows, which only the crosstab itself rejects."""
        if not fields:
            return 1
        try:
            cells = self._kept_cells()
        except SparkRuntimeException as e:
            if not _many_values(e):
                raise
            cells = None
        if cells is None:
            return self._df.select(*[_q(c) for c in fields]).distinct().count()
        return len(getattr(cells, paths))

    def size(self) -> tuple[int, int]:
        return (self.height(), self.width())

    # ------------------------------------------------------------------ #
    # combination (reference Combinator.hs:317-360)
    # ------------------------------------------------------------------ #

    def append(self, other: "KevinFrame") -> "KevinFrame":
        """Vertical union (reference Combinator.hs:317-337): both frames must
        have the same (name, traits) column set, order-insensitive; output
        column order = left's; rows = left's then right's; groups cleared.

        Unordered frames union with zero overhead (pure unionByName);
        ordered frames keep exact combined order by OFFSETTING the right
        side's ``__idx`` past the left side's maximum.  The offset is a
        scalar subquery in the plan, so ``append`` runs no job: an action
        that reads ``__idx`` runs the tiny parallel ``max()`` inside it,
        and Catalyst prunes the subquery when nothing reads ``__idx``
        (``append`` then ``groupby``/``aggregate``).  No global window, no
        single-partition sort, so an ordered append of two huge frames
        stays fully distributed; only a side with a pending sort is
        renumbered (``_materialized``).
        """
        left_cols = {n: self.traits.get(n) for n in self.columns}
        right_cols = {n: other.traits.get(n) for n in other.columns}
        if left_cols != right_cols:
            raise KevinValueError("Can't append inconsistent data frames")
        if not (self.ordered and other.ordered):
            return self._set_op(other, DataFrame.unionByName)
        # resolve any pending sort into __idx order on each side (no-op
        # when no sort is pending: sparse monotonic ids already carry
        # the row order)
        lf = self._materialized()._df.select(*[_q(c) for c in self.columns], IDX)
        rf = other._materialized()._df.select(*[_q(c) for c in self.columns], IDX)
        # right rows must sort after every left row: shift right ids by
        # (left max + 1); monotonic ids are >= 0 and both sides fit in
        # int64 with room to spare
        offset = F.coalesce(lf.agg(F.max(IDX)).scalar(), F.lit(-1)) + 1
        rf = rf.withColumn(IDX, (F.col(IDX) + offset).cast("long"))
        return self._derive(
            lf.unionByName(rf), group_cols=(), pivot=None, order_spec=_BY_IDX
        )

    def join(self, other: "KevinFrame") -> "KevinFrame":
        """POSITIONAL (zip) join — the reference's only join
        (Combinator.hs:339-360): requires equal heights, glues the i-th row
        of each side, concatenates all columns, renumbers.

        Spark has no native zip join for DataFrames; we realize it as
        dense-position materialization on both sides → equi-join on
        position.  Duplicate column names are disambiguated with a ``_r``
        suffix (the reference allows duplicates outright; Spark would make
        them unaddressable).

        The equal-height check fetches each bounded side once (see the
        class docstring) and counts any other side.  When both sides hold
        their rows, the result keeps the zipped rows, named as its
        columns, so its ``height`` and render run no job.
        """
        self._require_ordered("join")
        other._require_ordered("join")
        h0, h1 = self._row_count(), other._row_count()
        if h0 != h1:
            raise KevinValueError("Can't join inconsistent data frames")
        l = self._materialized(force=True)._df
        r = other._materialized(force=True)._df.withColumnRenamed(IDX, "__rn")
        rename = {c: f"{c}_r" for c in other.columns if c in self.columns}
        for old, new in rename.items():
            r = r.withColumnRenamed(old, new)
        out = l.join(r, l[IDX] == r["__rn"]).drop("__rn")
        traits = dict(self.traits)
        names = self.columns + [rename.get(c, c) for c in other.columns]
        for c in other.columns:
            traits[rename.get(c, c)] = other.traits.get(c)
        out = self._derive(
            out.select(*[_q(c) for c in names], IDX),
            traits=traits, group_cols=(), pivot=None, order_spec=_BY_IDX,
        )
        if self._rows is not None and other._rows is not None:
            row = Row(*names)
            out._rows = [row(*a, *b) for a, b in zip(self._rows, other._rows)]
        return out

    # ------------------------------------------------------------------ #
    # extension-operator surface: the pipeline ops as frame methods, so a
    # reference user gets ONE coherent API (frame in, frame out).  Plain
    # pass-throughs are generated from ``_OPERATOR_METHODS`` below; the
    # methods here are the ones that are not: their own implementation,
    # a reordered signature, ``self`` not first, or a list of frames.
    # Outputs are unordered analytic results (scale mode).
    # ------------------------------------------------------------------ #

    def dedup_exact(
        self, text_col: str = "text", id_col: str = "doc_id"
    ) -> "KevinFrame":
        """Exact-duplicate removal keeping the min-id representative per
        normalized-text fingerprint — ``operators.dedup`` shapes."""
        from pyspark.sql import functions as _F

        from kevinlang_spark.operators.text import fingerprint

        rep = _F.min_by(
            _F.struct(*self._df.columns), _F.col(id_col)
        ).alias("r")
        deduped = (
            self._df.withColumn("__fp", fingerprint(_F.col(text_col)))
            .groupBy("__fp")
            .agg(rep)
            .select("r.*")
        )
        return KevinFrame.from_df(deduped, ordered=False)

    def dedup_lines(
        self, text_col: str = "text", id_col: str = "doc_id", sep: str = "\n"
    ) -> "KevinFrame":
        """Corpus-wide line-level dedup (first occurrence wins, documents
        reassembled in order) — see ``operators.dedup.line_dedup``."""
        from kevinlang_spark.operators.dedup import line_dedup

        return KevinFrame.from_df(
            line_dedup(self._df, id_col, text_col, sep), ordered=False
        )

    def bloom_probe(
        self,
        bloom: "KevinFrame",
        col: str,
        m: int = 1 << 14,
        k: int = 5,
    ) -> "KevinFrame":
        """Probe this frame's ``col`` against a Bloom filter — see
        ``operators.sketches.bloom_probe``."""
        from kevinlang_spark.operators.sketches import bloom_probe as _bp

        return KevinFrame.from_df(
            _bp(bloom._df, self._df, col, m, k), ordered=False
        )

    def rank_fusion(
        self,
        others: list["KevinFrame"],
        id_col: str,
        rank_col: str = "rank",
        c: int = 60,
    ) -> "KevinFrame":
        """Reciprocal Rank Fusion of this ranking with ``others`` — see
        ``operators.stats.reciprocal_rank_fusion``."""
        from kevinlang_spark.operators.stats import reciprocal_rank_fusion as _rrf

        frames = [self._df] + [o._df for o in others]
        return KevinFrame.from_df(
            _rrf(frames, id_col, rank_col, c), ordered=False
        )

    def merge(
        self,
        other: "KevinFrame",
        on,
        how: str = "inner",
        broadcast_other: bool = False,
    ) -> "KevinFrame":
        """Relational join — absent in the reference (TODO:2 lists it as
        future work) but required for real queries; pure Spark.

        ``broadcast_other=True`` hints a broadcast-hash join for dimension
        tables (no shuffle of the fact side).  Row order follows the left
        frame: its order spec survives, and when the join can match a left
        row more than once (inner, left or cross), the right row's index
        follows it in the spec — the right side's ``__idx`` when it is in
        ``__idx`` order, else ``monotonically_increasing_id()`` over its
        rows — so the matches of one left row keep the right side's order
        and the full order key stays unique (``init``/``last`` pick one
        row).  Right and full outer joins give an unordered frame.
        """
        semi_anti = how in (
            "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti"
        )
        keeps_left_rows = semi_anti or how in (
            "inner", "left", "leftouter", "left_outer", "cross"
        )
        r = other._df
        ridx = None
        if self.ordered and keeps_left_rows and not semi_anti:
            ridx = "__ridx"
            while ridx in self._df.columns:  # a merge of a merged frame
                ridx += "_"
            rid = F.col(IDX) if other.order_spec == _BY_IDX else F.monotonically_increasing_id()
            r = r.withColumn(ridx, rid)
        r = r.drop(*[c for c in r.columns if c.startswith("__") and c != ridx])
        key_names = set()
        if isinstance(on, str):
            key_names = {on}
        elif isinstance(on, (list, tuple)) and all(isinstance(x, str) for x in on):
            key_names = set(on)
        # disambiguate overlapping non-key names (a '_r' suffix, like the
        # positional join) — duplicate names would make the frame
        # unaddressable (AMBIGUOUS_REFERENCE on the next select).
        # Semi/anti outputs carry no right columns at all, so they need
        # (and must not attempt) no disambiguation.
        rename: dict[str, str] = {}
        if not semi_anti and key_names:
            # string-key (USING) join: pre-rename the right side BEFORE the
            # join so the coalesced USING key survives full/right joins
            # (a post-join re-select of the left key attribute would NULL
            # the key on right-only rows)
            rename = {
                c: f"{c}_r"
                for c in other.columns
                if c in self.columns and c not in key_names and c in r.columns
            }
            for old, new in rename.items():
                r = r.withColumnRenamed(old, new)
        if broadcast_other:
            r = F.broadcast(r)
        out = self._df.join(r, on=on, how=how)
        if not semi_anti and not key_names:
            # Column-expression join: both sides' attributes are present in
            # the output (no USING coalescing), so a post-join re-select is
            # safe — and required, since pre-renaming would unbind the
            # user's join-condition attributes
            dup = [c for c in other.columns if c in self.columns and c in out.columns]
            if dup:
                rename = {c: f"{c}_r" for c in dup}
                sel = [self._df[c] for c in self._df.columns]
                sel += [
                    (r[c].alias(rename[c]) if c in dup else r[c]) for c in r.columns
                ]
                out = out.select(*sel)
        traits = dict(self.traits)
        if not semi_anti:
            for c in other.columns:
                name = rename.get(c, c)
                if name in out.columns and name not in traits:
                    traits[name] = other.traits.get(c)
        spec = self.order_spec if keeps_left_rows else ()
        if ridx is not None:
            spec += ((ridx, True),)
        if not spec and IDX in out.columns:
            out = out.drop(IDX)
        return self._derive(out, traits=traits, group_cols=(), pivot=None, order_spec=spec)

    # ------------------------------------------------------------------ #
    # set operations (absent in reference — SURVEY §2.6; free in Spark)
    # ------------------------------------------------------------------ #

    def _set_op(self, other: "KevinFrame", op: Callable[..., DataFrame]) -> "KevinFrame":
        """``op`` over the two frames' user columns, as an unordered frame
        (a set operation has no meaningful row order); groups cleared."""
        out = op(
            self._df.select(*[_q(c) for c in self.columns]),
            other._df.select(*[_q(c) for c in other.columns]),
        )
        return self._derive(out, group_cols=(), pivot=None, order_spec=())

    def union_distinct(self, other: "KevinFrame") -> "KevinFrame":
        """Set union (duplicates removed).  Produces an unordered frame:
        distinct() has no meaningful row order."""
        return self._set_op(other, lambda l, r: l.unionByName(r).distinct())

    def intersect(self, other: "KevinFrame") -> "KevinFrame":
        return self._set_op(other, DataFrame.intersect)

    def except_all(self, other: "KevinFrame") -> "KevinFrame":
        return self._set_op(other, DataFrame.exceptAll)

    # ------------------------------------------------------------------ #
    # pivot state (reference DataFrame.hs:273-283, Combinator.hs:239-267)
    # ------------------------------------------------------------------ #

    def to_pivot(self, value_field: str) -> "KevinFrame":
        """Enter pivot form (reference DataFrame.hs:276-283): every other
        field becomes the row title tree; the col tree starts empty."""
        self._check_field(value_field)
        rows = tuple(c for c in self.columns if c != value_field)
        return self._derive(self._df, pivot=PivotState(rows, (), value_field))

    def from_pivot(self) -> "KevinFrame":
        """Leave pivot form (reference DataFrame.hs:273-274)."""
        return self._derive(self._df, pivot=None)

    def stack(self, field: str) -> "KevinFrame":
        """Move a field from the col tree to the end of the row tree
        (reference Combinator.hs:239-252)."""
        if self.pivot is None:
            raise KevinPivotError("not in pivot form")
        if field not in self.pivot.col_fields:
            raise KevinPivotError("unable to stack")
        cols = tuple(c for c in self.pivot.col_fields if c != field)
        rows = self.pivot.row_fields + (field,)
        return self._derive(self._df, pivot=PivotState(rows, cols, self.pivot.value_field))

    def unstack(self, field: str) -> "KevinFrame":
        """Move a field from the row tree to the end of the col tree
        (reference Combinator.hs:254-267)."""
        if self.pivot is None:
            raise KevinPivotError("not in pivot form")
        if field not in self.pivot.row_fields:
            raise KevinPivotError("unable to unstack")
        rows = tuple(c for c in self.pivot.row_fields if c != field)
        cols = self.pivot.col_fields + (field,)
        return self._derive(self._df, pivot=PivotState(rows, cols, self.pivot.value_field))

    # ------------------------------------------------------------------ #
    # reshaping (melt / cast) — reference Combinator.hs:78-120, 269-276
    # ------------------------------------------------------------------ #

    def melt(self, id_fields, var_fields) -> "KevinFrame":
        """Wide→long unpivot (reference Combinator.hs:78-120).

        Output columns: ids + ``variable`` (Text/Dimension/Discrete) +
        ``value`` (Number/Measure/Continuous) — traits per
        Combinator.hs:116-117.  Row order is var-major (all rows of var1,
        then var2, ...; Combinator.hs:102-107), values in frame order within
        each variable.  Empty var list → error (test/Spec.lhs:99); empty id
        list OK; all-unknown names → row-empty frame (test/Spec.lhs:106).

        Spark-first: this is ``df.unpivot`` (Spark 3.4+), one narrow pass,
        no shuffle.  The var-major order is carried as a lazy order spec on
        a hidden variable-position column — no window, no renumber.
        """
        ids = _as_name_list(id_fields)
        vars_ = _as_name_list(var_fields)
        if not vars_:
            # reference: empty var list is a dispatch error (test/Spec.lhs:99)
            raise KevinTypeError("invalid field name")
        ids = [n for n in ids if n in self.columns]
        vars_ = [n for n in vars_ if n in self.columns]
        traits = {n: self.traits[n] for n in ids if n in self.traits}
        traits["variable"] = TEXT_DIM
        traits["value"] = NUM_MEASURE
        if not vars_:
            empty = self._df.where(F.lit(False)).select(
                *[_q(c) for c in ids], *([IDX] if self.ordered else [])
            )
            empty = empty.withColumn("variable", F.lit(None).cast("string"))
            empty = empty.withColumn("value", F.lit(None).cast("double"))
            cols = [*ids, "variable", "value"] + ([IDX] if self.ordered else [])
            return self._derive(
                empty.select(*cols),
                traits=traits,
                group_cols=(),
                pivot=None,
                order_spec=_BY_IDX if self.ordered else (),
            )
        # a pending sort may reference columns that don't survive the
        # unpivot (the var columns themselves, or unrelated ones):
        # materialize dense positions first so the order is baked into __idx
        base_kf = self._materialized() if self.ordered else self
        base = base_kf._df.select(*[_q(c) for c in ids + vars_], *([IDX] if self.ordered else []))
        base = base.withColumns({v: _q(v).cast("double") for v in vars_})
        out = base.unpivot(
            ids=[_q(c) for c in ids] + ([F.col(IDX)] if self.ordered else []),
            values=[_q(v).alias(v) for v in vars_],
            variableColumnName="variable",
            valueColumnName="value",
        )
        if self.ordered:
            # var-major order: hidden variable-position column heads the
            # order spec (pure metadata; no job, no window)
            pos_expr = F.when(F.col("variable") == vars_[0], F.lit(0))
            for i, v in enumerate(vars_[1:], start=1):
                pos_expr = pos_expr.when(F.col("variable") == v, F.lit(i))
            out = out.withColumn("__vpos", pos_expr)
            out = out.select(
                *[_q(c) for c in ids], "variable", "value", IDX, "__vpos"
            )
            # base was materialized above, so row order lives in __idx;
            # var-major = (__vpos, __idx)
            return self._derive(
                out,
                traits=traits,
                group_cols=(),
                pivot=None,
                order_spec=(("__vpos", True),) + _BY_IDX,
            )
        out = out.select(*[_q(c) for c in ids], "variable", "value")
        return self._derive(out, traits=traits, group_cols=(), pivot=None)

    def cast(self, row_fields, col_fields, agg, value_field: str) -> "KevinFrame":
        """Long→wide pivot with aggregation (reference Combinator.hs:269-276,
        defined there as unstack^n ∘ toPivot ∘ aggregate ∘ groupby).

        Guards per Combinator.hs:271-272: row/col overlap → error; value
        field among row/col fields → error.  We realize the data as the
        grouped aggregation (long form) and carry pivot state; the crosstab
        widening happens in ``pivot_table``, which the renderer reads.
        Every (row, col) cell of a cast holds one aggregated row; a frame
        put in pivot form by other ops may not, and a cell with two rows
        raises when the table is computed (see ``pivot_table``).
        """
        rows = _as_name_list(row_fields)
        cols = _as_name_list(col_fields)
        if set(rows) & set(cols):
            raise KevinValueError("unable to cast")
        if value_field in rows or value_field in cols:
            raise KevinValueError("unable to cast")
        # unknown names would leave PivotState referencing columns the
        # aggregated frame doesn't have (reference errors at unstack time
        # with "unable to unstack"; we fail fast here)
        for n in rows + cols + [value_field]:
            self._check_field(n)
        out = self.groupby(rows + cols).aggregate(agg, value_field)
        return out._derive(out._df, pivot=PivotState(tuple(rows), tuple(cols), value_field))

    @functools.cached_property
    def _keyed(self) -> DataFrame:
        """The frame's rows, plus ``__ckey`` — the pivot key of each row's
        col path — when the col tree is not empty.  The key is NULL-safe
        and collision-safe: NULLs coalesce to a marker and values join
        with a unit separator (plain concat_ws would collapse ('a', NULL)
        and (NULL, 'a'), and 'a/b' with ('a','b')).  Built once per frame:
        the kept cells and the wide table both read it."""
        if not self.pivot.col_fields:
            return self._df
        return self._df.withColumn("__ckey", F.concat_ws("\x1f", *[
            F.coalesce(_q(c).cast("string"), F.lit("\x00null")) for c in self.pivot.col_fields
        ]))

    @functools.cached_property
    def _cell(self) -> Column:
        """A crosstab cell: the value of its one row; a cell that more than
        one row lands in raises the reference's "invalid data (many values
        for the same index)" (DataFrame.hs:145) when it is computed.
        Built once per frame, like ``_keyed``."""
        val = self.pivot.value_field
        return (
            F.when(F.count(F.lit(1)) > 1, F.raise_error(F.lit(MANY_VALUES)))
            .otherwise(F.first(_q(val)))
            .alias(val)
        )

    def _kept_cells(self) -> _Cells | None:
        """The crosstab's cells (reference TitleTrees, DataFrame.hs:128-172),
        fetched once and kept; None when there are more than ``_ROWS_BOUND``.

        One job groups by the row and col fields, guards each cell
        (``_cell``, so a cell with two rows raises here) and takes the
        first ``_ROWS_BOUND + 1`` cells ordered by row then col fields.
        The col paths are sorted on the driver in Spark's ascending NULLS
        FIRST order (makeTitleTree, DataFrame.hs:257-271); their pivot
        keys come from Spark (``__ckey``), never from ``str()``."""
        if self._cells is None:
            nr = len(self.pivot.row_fields)
            nc = len(self.pivot.col_fields)
            by = [_q(c) for c in self.pivot.row_fields + self.pivot.col_fields]
            q = self._keyed.groupBy(*by).agg(
                self._cell, *([F.first("__ckey")] if nc else [])
            )
            got = (q.orderBy(*by) if by else q).limit(_ROWS_BOUND + 1).collect()
            if len(got) > _ROWS_BOUND:
                self._cells = False
                return None
            rows, paths, found = [], {}, []
            for r in got:
                path = r[:nr]
                # NaN != NaN: paths that differ are compared by sort key
                if not rows or (path != rows[-1] and _order_key(path) != _order_key(rows[-1])):
                    rows.append(path)
                key = r[-1] if nc else None
                if key not in paths:
                    paths[key] = r[nr : nr + nc]
                found.append((len(rows) - 1, key, r[nr + nc]))
            keys = sorted(paths, key=lambda k: _order_key(paths[k]))
            at = {k: j for j, k in enumerate(keys)}
            self._cells = _Cells(
                rows, [paths[k] for k in keys], keys,
                {(i, at[k]): v for i, k, v in found},
            )
        return self._cells or None

    def _crosstab(self, limit: int | None) -> tuple[list[tuple], DataFrame]:
        """The crosstab of a frame in pivot form as a wide table.

        Returns the col tree's leaf paths, sorted by value with NULLs first
        (makeTitleTree, DataFrame.hs:257-271), at most ``limit`` of them,
        and the lazy wide table: one row per row-tree leaf, ordered by the
        row fields, then one cell per returned col path.  The paths and
        pivot keys come from the kept cells (``_kept_cells``); only when
        those exceed ``_ROWS_BOUND`` does a distinct find them, and the
        table is then sorted with ``orderBy`` instead of on one partition.
        """
        rows = [_q(c) for c in self.pivot.row_fields]
        cols = [_q(c) for c in self.pivot.col_fields]
        cells = self._kept_cells()
        df = self._keyed
        if not rows:
            # one wide row, and valid input holds at most one row per col
            # path: a single partition runs it without an exchange
            df = df.coalesce(1)
        if not cols:
            paths, gb = [], df.groupBy(*rows)
        else:
            if cells is not None:
                paths, keys = cells.cols[:limit], cells.keys[:limit]
            else:
                q = df.select(*cols, "__ckey").distinct().orderBy(*cols)
                found = (q if limit is None else q.limit(limit)).collect()
                paths, keys = [tuple(r)[:-1] for r in found], [r[-1] for r in found]
            gb = df.groupBy(*rows).pivot("__ckey", keys)
        wide = gb.agg(self._cell)
        if not rows:
            return paths, wide
        if cells is None:
            return paths, wide.orderBy(*rows)
        # at most _ROWS_BOUND wide rows: one partition sorts them without
        # the range exchange (and its sampling job) of orderBy
        return paths, wide.coalesce(1).sortWithinPartitions(*rows)

    def _crosstab_grid(self, n: int) -> tuple[list[tuple], list[tuple], list[tuple]]:
        """The first ``n`` row paths and col paths of the crosstab, and
        their cells row by row — what a render draws.  With the kept cells
        this runs no job; otherwise it reads ``_crosstab``'s wide table."""
        cells = self._kept_cells()
        if cells is not None:
            rows, cols = cells.rows[:n], cells.cols[:n]
            grid = [
                tuple(cells.values.get((i, j)) for j in range(len(cols)))
                for i in range(len(rows))
            ]
            return rows, cols, grid
        nr = len(self.pivot.row_fields)
        paths, wide = self._crosstab(n)
        got = [tuple(r) for r in wide.limit(n).collect()]
        return [r[:nr] for r in got], paths, [r[nr:] for r in got]

    def pivot_table(self, max_distinct: int = 10000) -> DataFrame:
        """Materialize the crosstab for a frame in pivot form:
        ``groupBy(row_fields).pivot(col-values)`` — reference crosstab
        semantics (DataFrame.hs:128-172): each cell is the value of the
        single row at that (row-path, col-path); NULL if none.  The call
        fetches the crosstab's cells once (``_kept_cells``) for the col
        values, so a cell that holds more than one row raises
        ``SparkRuntimeException`` (``USER_RAISED_EXCEPTION``, "invalid
        data (many values for the same index)") here, and a later render,
        ``height`` or ``width`` of this frame runs no Spark job.
        ``max_distinct`` bounds the pivot width (at scale a pivot to
        millions of columns is a modeling error, not a query)."""
        if self.pivot is None:
            raise KevinPivotError("not in pivot form")
        limit = (max_distinct + 1) if max_distinct is not None else None
        paths, wide = self._crosstab(limit)
        if max_distinct is not None and len(paths) > max_distinct:
            raise KevinPivotError(
                f"pivot would create more than {max_distinct} columns; "
                "a pivot this wide is a modeling error at scale"
            )
        return wide

    # ------------------------------------------------------------------ #
    # actions / conversion
    # ------------------------------------------------------------------ #

    def collect(self):
        if self._rows is None:
            rows = self.to_df().collect()
            if len(rows) > _ROWS_BOUND:
                return rows
            self._rows = rows
        return list(self._rows)

    def _head_rows(self, n: int) -> list:
        """The first ``n`` rows of ``to_df()``; a fetch that finds no more
        than ``n`` rows keeps them as the frame's rows."""
        if self._rows is None:
            # limit keeps an ordered fetch a TakeOrderedAndProject; a bare
            # ordered collect plans a range-partitioned sort
            rows = self.to_df().limit(n + 1).collect()
            if len(rows) > n:
                return rows[:n]
            self._rows = rows
        return self._rows[:n]

    def to_pandas(self):
        return self.to_df().toPandas()

    def show(self, n: int = 20) -> None:
        self.to_df().show(n, truncate=False)

    def render(self, max_rows: int = 100) -> str:
        """Reference-parity text rendering (flat table or crosstab)."""
        from kevinlang_spark.render import render_frame

        return render_frame(self, max_rows=max_rows)

    def explain(self, mode: str = "formatted") -> None:
        self.to_df().explain(mode)

    def __repr__(self) -> str:
        state = []
        if self.order_spec:
            state.append(f"order={list(self.order_spec)}")
        if self.group_cols:
            state.append(f"groups={list(self.group_cols)}")
        if self.pivot:
            state.append(
                f"pivot(rows={list(self.pivot.row_fields)}, "
                f"cols={list(self.pivot.col_fields)}, value={self.pivot.value_field})"
            )
        return f"KevinFrame(cols={self.columns}{', ' + ', '.join(state) if state else ''})"


#: frame method -> ``kevinlang_spark.operators`` function it passes through
#: to, with this frame as the operator's first argument.  The method's
#: signature (minus the frame) and docstring are the operator's own.
_OPERATOR_METHODS = {
    "describe": "stats.profile_numeric",
    "with_text_stats": "text.with_text_stats",
    "validate": "quality.validate",
    "dedup_semantic": "similarity.semantic_dedup",
    "association_rules": "baskets.association_rules",
    "apply_cdc": "incremental.apply_cdc",
    "target_encode": "stats.target_encode",
    "time_decayed_agg": "events.time_decayed_agg",
    "poisson_bootstrap": "stats.poisson_bootstrap",
    "psi_drift": "drift.psi_drift",
    "group_ols": "stats.group_ols",
    "k_anonymity": "quality.k_anonymity",
    "cusum_changepoints": "anomaly.cusum_changepoints",
    "seasonal_anomalies": "anomaly.seasonal_anomalies",
    "snapshot_diff": "incremental.snapshot_diff",
    "char_entropy": "text.char_entropy",
    "bpe_merge_pairs": "text.bpe_merge_pairs",
    "ngram_diversity": "text.ngram_diversity",
    "mixture_weights": "sampling.mixture_weights",
    "window_dedup": "events.window_dedup",
    "hll_rollup": "sketches.hll_rollup",
    "kll_rollup": "sketches.kll_rollup",
    "theta_rollup": "sketches.theta_rollup",
    "join_key_profile": "sketches.join_key_profile",
    "dyadic_smooth": "events.dyadic_smooth",
    "funnel_latency": "events.funnel_latency",
    "novelty_counts": "dedup.novelty_counts",
    "dp_counts": "quality.dp_counts",
    "cms_frequencies": "sketches.cms_frequencies",
    "grouped_heavy_hitters": "sketches.grouped_heavy_hitters",
    "kcenter_sample": "similarity.kcenter_sample",
    "km_survival": "stats.km_survival",
    "acf_by_key": "anomaly.acf_by_key",
    "markov_attribution": "events.markov_attribution",
    "seasonal_backtest": "anomaly.seasonal_backtest",
    "mahalanobis_outliers": "stats.mahalanobis_outliers",
    "winnow_fingerprints": "text.winnow_fingerprints",
    "token_pmi": "text.token_pmi",
    "kcore": "graph.kcore",
    "label_propagation": "graph.label_propagation",
    "hits": "graph.hits",
    "pca_top_component": "pca.pca_top_component",
    "sorted_neighborhood_pairs": "dedup.sorted_neighborhood_pairs",
    "bloom_build": "sketches.bloom_build",
    "sparse_cosine_pairs": "text.sparse_cosine_pairs",
    "wl_refinement": "graph.wl_refinement",
    "shortest_paths": "graph.shortest_paths",
    "harmonic_centrality": "graph.harmonic_centrality",
    "adamic_adar": "graph.adamic_adar",
    "fs_link_pairs": "linkage.fs_link_pairs",
    "radius_join_pairs": "spatial.radius_join_pairs",
    "fingerprint_clusters": "quality.fingerprint_clusters",
    "fd_violations": "quality.fd_violations",
    "dsir_weights": "text.dsir_weights",
    "trigram_search": "text.trigram_search",
    "feature_hash": "text.feature_hash",
    "pca_top_components": "pca.pca_top_components",
}


def _operator_method(name: str, path: str):
    """The pass-through method for one ``_OPERATOR_METHODS`` entry: frame
    arguments are unwrapped to their DataFrame, the result is wrapped as an
    unordered frame."""
    module, attr = path.split(".")
    op = getattr(importlib.import_module(f"kevinlang_spark.operators.{module}"), attr)

    def _df(v):
        return v._df if isinstance(v, KevinFrame) else v

    def method(self, *args, **kwargs):
        args = [_df(a) for a in args]
        kwargs = {k: _df(v) for k, v in kwargs.items()}
        return KevinFrame.from_df(op(self._df, *args, **kwargs), ordered=False)

    sig = inspect.signature(op)
    first, *rest = sig.parameters.values()
    method.__signature__ = sig.replace(
        parameters=[first.replace(name="self", annotation=inspect.Parameter.empty), *rest],
        return_annotation="KevinFrame",
    )
    method.__doc__ = op.__doc__
    method.__name__ = name
    method.__qualname__ = f"KevinFrame.{name}"
    return method


class _LazyOperatorMethod:
    """Descriptor that builds its method on first access, not at class
    creation: importing every operator module eagerly pulls pandas into
    ``import kevinlang_spark`` (via ``operators.pca``)."""

    def __init__(self, name: str, path: str):
        self.entry = (name, path)
        self.fn = None

    def __get__(self, obj, owner=None):
        if self.fn is None:
            self.fn = _operator_method(*self.entry)
        return self.fn.__get__(obj, owner)


for _name, _path in _OPERATOR_METHODS.items():
    setattr(KevinFrame, _name, _LazyOperatorMethod(_name, _path))
