"""Visualization DSL — a WORKING implementation of the layer the reference
declares but stubs (SURVEY §2.10).

Reference surface (all bodies `undefined` there):
- ``Kevin {knCoord, knMark}`` spec record with Monoid merge that errors on
  duplicate declarations (Language/Kevin.hs:14-27) — implemented here with
  the same error strings;
- marks ``point line area interval`` + adjustments ``dodge stack jitter``
  (Language/Kevin/Marks.hs:7-13);
- visuals ``size shape color label`` (Language/Kevin/Visuals.hs:7-18);
- scales ``linear category`` incl. the "orders are not for linear scales"
  error (Language/Kevin/Scales.hs:10-21);
- coords ``Cartesian | Polar`` (Language/Kevin/Coords.hs:5-11);
- ``with df $ do …  → Babel`` codegen (Language/Builder.hs:11-14,
  Language/Babel.hs:9-12).

``Babel`` here is a Vega-Lite v5 spec dict: field traits drive encoding
types (Dimension/Discrete → nominal, Measure/Continuous → quantitative,
DateTime → temporal), Polar coords map to arc marks, ``dodge`` to
``xOffset`` grouping, ``stack`` to stacked encodings.  Data is inlined
from the frame's first ``max_rows`` rows (``KevinFrame._head_rows``, as
the text render reads them — a chart is a presentation action, like the
reference's in-memory renderer), so a frame that holds its rows runs no job.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.traits import DataInterpretation, DataRole, FieldTraits, KType

# --------------------------------------------------------------------- #
# declarations
# --------------------------------------------------------------------- #


@dataclass(frozen=True)
class Scale:
    kind: str  # 'linear' | 'category'
    field: str
    orders: tuple[str, ...] = ()


def linear(field_name: str, orders=None) -> Scale:
    """Continuous scale; reference errors when given orderings
    (Language/Kevin/Scales.hs:19)."""
    if orders:
        raise KevinValueError("orders are not for linear scales")
    return Scale("linear", field_name)


def category(field_name: str, orders: list[str] | None = None) -> Scale:
    return Scale("category", field_name, tuple(orders or ()))


@dataclass(frozen=True)
class Visual:
    channel: str  # 'size' | 'shape' | 'color' | 'label'
    scale: Scale


def size(scale: Scale) -> Visual:
    return Visual("size", scale)


def shape(scale: Scale) -> Visual:
    return Visual("shape", scale)


def color(scale: Scale) -> Visual:
    return Visual("color", scale)


def label(scale: Scale) -> Visual:
    return Visual("label", scale)


@dataclass(frozen=True)
class Mark:
    kind: str  # 'point' | 'line' | 'area' | 'interval'
    x: Scale | None = None
    y: Scale | None = None
    visuals: tuple[Visual, ...] = ()
    adjustment: str | None = None  # 'dodge' | 'stack' | 'jitter'


def _mark(kind):
    def make(x: Scale | None = None, y: Scale | None = None, *visuals: Visual) -> Mark:
        return Mark(kind, x, y, tuple(visuals))

    make.__name__ = kind
    return make


point = _mark("point")
line = _mark("line")
area = _mark("area")
interval = _mark("interval")


def dodge(m: Mark) -> Mark:
    return replace(m, adjustment="dodge")


def stack(m: Mark) -> Mark:
    return replace(m, adjustment="stack")


def jitter(m: Mark) -> Mark:
    return replace(m, adjustment="jitter")


@dataclass(frozen=True)
class Coord:
    kind: str  # 'Cartesian' | 'Polar'


Cartesian = Coord("Cartesian")
Polar = Coord("Polar")


def coord(c: Coord) -> Coord:
    return c


# --------------------------------------------------------------------- #
# the Kevin spec record + Monoid merge (Language/Kevin.hs:14-27)
# --------------------------------------------------------------------- #


@dataclass(frozen=True)
class KevinSpec:
    kn_coord: Coord | None = None
    kn_mark: Mark | None = None

    def merge(self, other: "KevinSpec") -> "KevinSpec":
        """Reference mappend semantics, same error strings."""
        a, b = self.kn_coord, self.kn_mark
        c, d = other.kn_coord, other.kn_mark
        if c is None and d is None:
            return self
        if a is None and b is None:
            return other
        if a is not None and c is not None and b is None and d is None:
            raise KevinValueError("coordinate already declared")
        if b is not None and d is not None and a is None and c is None:
            raise KevinValueError("mark already declared")
        if a is not None and b is None and c is None and d is not None:
            return KevinSpec(a, d)
        if a is None and b is not None and c is not None and d is None:
            return KevinSpec(c, b)
        raise KevinValueError("conflicted declaration")


def declare(*parts) -> KevinSpec:
    """Writer-monad analogue: fold declarations with the Monoid merge."""
    spec = KevinSpec()
    for p in parts:
        if isinstance(p, Coord):
            spec = spec.merge(KevinSpec(kn_coord=p))
        elif isinstance(p, Mark):
            spec = spec.merge(KevinSpec(kn_mark=p))
        else:
            raise KevinValueError(f"invalid declaration: {p!r}")
    return spec


# --------------------------------------------------------------------- #
# Babel codegen → Vega-Lite (Language/Babel.hs:9-12, real here)
# --------------------------------------------------------------------- #

_MARK_MAP = {"point": "point", "line": "line", "area": "area", "interval": "bar"}


def _enc_type(traits: FieldTraits | None, scale: Scale) -> str:
    if scale.kind == "category":
        return "nominal" if not scale.orders else "ordinal"
    if traits is None:
        return "quantitative"
    if traits.ktype in (KType.DATE, KType.TIME, KType.DATETIME):
        return "temporal"
    if traits.interp == DataInterpretation.DISCRETE:
        return "ordinal" if traits.ktype == KType.NUMBER else "nominal"
    return "quantitative"


def _encoding(scale: Scale, traits_map) -> dict:
    enc = {"field": scale.field, "type": _enc_type(traits_map.get(scale.field), scale)}
    if scale.orders:
        enc["sort"] = list(scale.orders)
    return enc


def gen_babel(kf, spec: KevinSpec, max_rows: int = 5000) -> dict:
    """Generate the Vega-Lite spec ("Babel") for a frame + declarations."""
    if spec.kn_mark is None:
        raise KevinValueError("no mark declared")
    mark = spec.kn_mark
    coord_kind = (spec.kn_coord or Cartesian).kind
    traits_map = dict(kf.traits)

    rows = [r.asDict() for r in kf._head_rows(max_rows)]
    vl_mark = _MARK_MAP[mark.kind]
    enc: dict = {}
    if coord_kind == "Polar":
        # polar interval → arc; angle ← x, radius ← y
        vl_mark = "arc"
        if mark.x:
            enc["theta"] = _encoding(mark.x, traits_map)
        if mark.y:
            enc["color"] = _encoding(mark.y, traits_map)
    else:
        if mark.x:
            enc["x"] = _encoding(mark.x, traits_map)
        if mark.y:
            enc["y"] = _encoding(mark.y, traits_map)
    for v in mark.visuals:
        channel = {"size": "size", "shape": "shape", "color": "color", "label": "text"}[
            v.channel
        ]
        enc[channel] = _encoding(v.scale, traits_map)
    if mark.adjustment == "dodge" and "color" in enc and coord_kind != "Polar":
        enc["xOffset"] = dict(enc["color"])
    if mark.adjustment == "stack" and "y" in enc:
        enc["y"]["stack"] = "zero"
    transform = []
    if mark.adjustment == "jitter":
        # real jitter: a random calculate transform drives yOffset
        transform.append({"calculate": "random()", "as": "__jitter"})
        enc["yOffset"] = {"field": "__jitter", "type": "quantitative"}
        vl_mark = {"type": vl_mark, "opacity": 0.7}

    spec_out = {
        "$schema": "https://vega.github.io/schema/vega-lite/v5.json",
        "data": {"values": rows},
        "mark": vl_mark,
        "encoding": enc,
    }
    if transform:
        spec_out["transform"] = transform
    return spec_out


def with_frame(kf, *declarations, max_rows: int = 5000) -> dict:
    """Reference ``with df $ do …`` entry point (Language/Builder.hs:11-12)."""
    return gen_babel(kf, declare(*declarations), max_rows=max_rows)
