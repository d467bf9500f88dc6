"""Tableau-style field traits (type × role × interpretation).

The reference attaches a three-axis trait to every column
(``FieldTraits = (DataType, DataRole, DataInterpretation)``,
reference src/Data/DataFrame.hs:71-75) and infers it at CSV ingestion
(DataFrame.hs:200-242).  We carry the same metadata per column on the
KevinFrame wrapper.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass

from pyspark.sql import types as T


class KType(str, enum.Enum):
    """Reference DataType (DataFrame.hs:73). Date/Time/DateTime/Geography are
    declared there but unreachable (detectors hardwired False,
    DataFrame.hs:207-210); we make them reachable for parquet sources."""

    TEXT = "Text"
    NUMBER = "Number"
    DATE = "Date"
    TIME = "Time"
    DATETIME = "DateTime"
    GEOGRAPHY = "Geography"


class DataRole(str, enum.Enum):
    """DataFrame.hs:74 — dimension (grouping attribute) vs measure."""

    DIMENSION = "Dimension"
    MEASURE = "Measure"


class DataInterpretation(str, enum.Enum):
    """DataFrame.hs:75."""

    DISCRETE = "Discrete"
    CONTINUOUS = "Continuous"


@dataclass(frozen=True)
class FieldTraits:
    ktype: KType
    role: DataRole
    interp: DataInterpretation


TEXT_DIM = FieldTraits(KType.TEXT, DataRole.DIMENSION, DataInterpretation.DISCRETE)
NUM_DIM = FieldTraits(KType.NUMBER, DataRole.DIMENSION, DataInterpretation.DISCRETE)
NUM_MEASURE = FieldTraits(KType.NUMBER, DataRole.MEASURE, DataInterpretation.CONTINUOUS)
DATETIME_DIM = FieldTraits(KType.DATETIME, DataRole.DIMENSION, DataInterpretation.CONTINUOUS)


def infer_traits_for_spark_type(name: str, dtype: T.DataType) -> FieldTraits:
    """Trait inference for typed (parquet) sources.

    Mirrors the reference's CSV rules (DataFrame.hs:224-230) lifted to a typed
    schema: strings are discrete dimensions; numerics are continuous measures
    unless the column is named ``year`` (the reference's name-based special
    case, DataFrame.hs:226-228) or is an integer key-like column; timestamps
    map to the DateTime trait the reference declares but never reaches.
    """
    lname = name.lower()
    if isinstance(dtype, T.StringType):
        return TEXT_DIM
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return DATETIME_DIM
    if isinstance(dtype, T.DateType):
        return FieldTraits(KType.DATE, DataRole.DIMENSION, DataInterpretation.CONTINUOUS)
    if isinstance(dtype, T.NumericType):
        if lname == "year":
            return NUM_DIM
        if isinstance(dtype, T.IntegralType) and (
            lname.endswith("key") or lname.endswith("_id") or lname == "id"
        ):
            return NUM_DIM
        return NUM_MEASURE
    # arrays/maps/structs/binary: dimension-ish opaque payloads
    return TEXT_DIM
