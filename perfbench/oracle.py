"""Correctness gate: expected results from DuckDB over the same files,
and comparisons of what the program returned against them.

Rendered answers are parsed back into cells (generated values contain no
spaces, so a rendered line splits on whitespace).  Numbers compare with a
relative tolerance, because Spark and DuckDB sum doubles in different
orders; everything else compares exactly.  Ordered results compare row by
row in order; unordered ones compare as sorted row lists.
"""

from __future__ import annotations

import math

import duckdb

REL_TOL = 1e-9


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _num(x):
    if isinstance(x, bool):
        return None
    if isinstance(x, (int, float)):
        return float(x)
    if isinstance(x, str):
        try:
            return float(x)
        except ValueError:
            return None
    return None


def cell_equal(got, want) -> bool:
    if got is None or want is None or got == "empty" or want == "empty":
        return (got in (None, "empty")) and (want in (None, "empty"))
    g, w = _num(got), _num(want)
    if g is not None and w is not None:
        return math.isclose(g, w, rel_tol=REL_TOL, abs_tol=1e-9)
    return str(got) == str(want)


def diff_rows(got: list, want: list, ordered: bool = True) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    if not ordered:
        got = sorted(got, key=lambda r: tuple(str(v) for v in r))
        want = sorted(want, key=lambda r: tuple(str(v) for v in r))
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(cell_equal(a, b) for a, b in zip(g, w)):
            return f"row {i}: got {tuple(g)}, expected {tuple(w)}"
    return None


def parse_flat(text: str) -> tuple[list[str], list[tuple]]:
    """(header, rows) of a rendered flat table, without the row index."""
    lines = [l.split() for l in text.splitlines() if l.strip()]
    header = lines[0]
    return header, [tuple(l[1:]) for l in lines[1:] if l[0].isdigit()]


def parse_crosstab(text: str) -> tuple[list[str], list[str], dict]:
    """(column headers, row headers, {(row header, column header): cell})
    of a rendered crosstab with one row field and one column field."""
    lines = [l.split() for l in text.splitlines() if l.strip()]
    cols = lines[0][1:]
    rows = [l[0] for l in lines[2:]]
    cells = {}
    for l in lines[2:]:
        if len(l) != len(cols) + 1:
            raise ValueError(f"crosstab line has {len(l)} cells: {l}")
        for c, v in zip(cols, l[1:]):
            cells[(l[0], c)] = v
    return cols, rows, cells
