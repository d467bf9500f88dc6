"""Reference-parity text rendering.

Reproduces the reference's ``Show DataFrame`` (src/Data/DataFrame.hs:106-172):

- flat form: right-aligned fixed-width columns with a 2-space gutter, a
  leading row-index column, Discrete numbers printed with 0 decimals
  (DataFrame.hs:115-118), NULL printed as ``empty``, non-Latin1 characters
  counted as width 2 (DataFrame.hs:102-104), group listing appended
  (DataFrame.hs:123-126), ``(EMPTY DATAFRAME)`` for a column-empty frame
  (DataFrame.hs:107);
- pivot form: nested row/column title-tree headers over a value matrix
  (DataFrame.hs:128-172), headers being the *sorted distinct* values of
  each tree level (makeTitleTree, DataFrame.hs:257-271).  The headers and
  cells are the first ``max_rows`` row paths and col paths of the crosstab
  cells the frame keeps (``KevinFrame._kept_cells``, shared with
  ``pivot_table`` and pivot ``height``/``width``), so a render after any
  of those runs no Spark job; this module runs no crosstab query of its
  own.

Rendering collects to the driver — it is a presentation action, like the
reference's ``show``; size is bounded by ``max_rows``.  A flat render reads
the rows the frame already holds; otherwise it fetches ``max_rows + 1``
rows, and when that finds the whole frame the frame keeps them, so a later
``height()`` or render runs no Spark job.
"""

from __future__ import annotations

import math

from pyspark.errors import SparkRuntimeException

from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.frame import MANY_VALUES, _many_values, _order_key
from kevinlang_spark.traits import DataInterpretation, FieldTraits


def _width(s: str) -> int:
    """Latin-1 chars count 1, everything else 2 (DataFrame.hs:102-104)."""
    return sum(1 if ord(c) < 256 else 2 for c in s)


def _pad_left(s: str, w: int) -> str:
    return " " * (w - _width(s)) + s


def _fmt_value(v, traits: FieldTraits | None) -> str:
    if v is None:
        return "empty"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return str(v)  # int(nan/inf) would raise
        if traits is not None and traits.interp == DataInterpretation.DISCRETE:
            return f"{v:.0f}"
        if v == int(v) and abs(v) < 1e15:
            # Haskell Scientific prints integral values bare
            return f"{v:.1f}"
        return repr(v)
    if isinstance(v, int):
        if traits is not None and traits.interp == DataInterpretation.CONTINUOUS:
            return f"{float(v)!r}"
        return str(v)
    return str(v)


def _fmt_header(v) -> str:
    """Reference title-tree header formatting (DataFrame.hs:155-156):
    numeric header values ALWAYS print 0-decimal, regardless of traits."""
    if v is None:
        return "empty"
    if isinstance(v, float) and not (math.isnan(v) or math.isinf(v)):
        return f"{v:.0f}"
    return str(v)


def _show_lines(lines: list[list[str]]) -> str:
    if not lines:
        return ""
    ncols = max(len(l) for l in lines)
    widths = [
        max((_width(l[i]) for l in lines if i < len(l)), default=0)
        for i in range(ncols)
    ]
    out = []
    for l in lines:
        out.append(
            "".join("  " + _pad_left(x, widths[i]) for i, x in enumerate(l))
        )
    return "\n".join(out) + "\n"


def render_frame(kf, max_rows: int = 100) -> str:
    """Render a KevinFrame as the reference would ``show`` it.  A flat
    render shares the frame's rows with ``height()`` (see the module
    docstring); ``height()`` keeps up to ``frame._ROWS_BOUND`` rows."""
    if kf.pivot is not None:
        return _render_pivot(kf, max_rows)
    return _render_flat(kf, max_rows)


def _render_flat(kf, max_rows: int) -> str:
    cols = kf.columns
    if not cols:
        return "(EMPTY DATAFRAME)\n"
    rows = kf._head_rows(max_rows)
    header = [""] + cols
    lines = [header]
    for i, r in enumerate(rows, start=1):
        lines.append(
            [str(i)] + [_fmt_value(r[c], kf.traits.get(c)) for c in cols]
        )
    out = _show_lines(lines)
    if kf.group_cols:
        out += str(list(kf.group_cols)) + "\n"
    return out


def _render_pivot(kf, max_rows: int) -> str:
    """Crosstab: sorted-distinct headers per tree level, value matrix cells.

    Draws the first ``max_rows`` row paths and col paths of the crosstab
    and their cells (``KevinFrame._crosstab_grid``): from the frame's kept
    crosstab cells, which the first of ``pivot_table``, a render,
    ``height`` or ``width`` fetches, or from the wide table when the
    crosstab holds more than ``_ROWS_BOUND`` cells.
    A cell with two values raises the reference's ``KevinValueError``.
    """
    rows_f = list(kf.pivot.row_fields)
    cols_f = list(kf.pivot.col_fields)
    try:
        row_paths, col_paths, grid = kf._crosstab_grid(max_rows)
    except SparkRuntimeException as e:
        if not _many_values(e):
            raise
        raise KevinValueError(MANY_VALUES) from None
    # an empty col tree, or a crosstab with no col path, draws one cell
    ncells = max(len(col_paths), 1)

    def vals(i: int) -> list[str]:
        # cells carry no traits: plain Scientific ``show`` (DataFrame.hs:91)
        row = grid[i] if i < len(grid) else ()
        return [
            _fmt_value(row[j] if j < len(row) else None, None) for j in range(ncells)
        ]

    lines: list[list[str]] = []
    row_hdr_w = len(rows_f) if rows_f else 1
    # column-tree header lines: one line per col field; values span their
    # subtrees (blank for continuation — addTitlePadding, DataFrame.hs:147)
    for li, cf in enumerate(cols_f):
        line = [cf] + [""] * (row_hdr_w - 1)
        prev_prefix = None
        for cp in col_paths:
            # NaN-equal compare: Spark groups NaN keys under one parent
            prefix = _order_key(cp[: li + 1])
            line.append(_fmt_header(cp[li]) if prefix != prev_prefix else "")
            prev_prefix = prefix
        lines.append(line)
    # row-tree field-name line
    if rows_f:
        lines.append(rows_f + [""] * ncells)
    # body
    if not rows_f or not row_paths:
        lines.append([""] * row_hdr_w + vals(0))
    else:
        prev: tuple | None = None
        for i, rp in enumerate(row_paths):
            hdr = []
            for li in range(len(rows_f)):
                same = prev is not None and _order_key(prev[: li + 1]) == _order_key(
                    rp[: li + 1]
                )
                hdr.append("" if same else _fmt_header(rp[li]))
            prev = rp
            lines.append(hdr + vals(i))
    return _show_lines(lines)
