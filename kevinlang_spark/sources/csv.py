"""CSV ingestion with reference-parity trait inference.

Mirrors the reference pipeline (src/Data/DataFrame.hs:182-242 +
src/CsvParser.hs:12-45): header row, comma-delimited, `""`-escaped quotes,
blank → Empty/NULL, numbers parsed as decimals; then per-column trait
inference:

- all values string            → (Text, Dimension, Discrete)
- all numeric AND name=="year" → (Number, Dimension, Discrete)
- all numeric                  → (Number, Measure, Continuous)
- any blank cell, or numbers mixed with words → strict mode (the default)
  raises "Invalid data (possibly missing values)" (DataFrame.hs:237-238).
  With ``strict=False`` a column whose non-blank values are all numeric
  stays a nullable Number; a column with any word, or with no value at
  all, is Text, whatever the share of numbers in it.

The inference statistics are computed in ONE distributed aggregation pass
(not a per-column driver loop), so ingestion scales with the cluster.

The inference pass (the header scan plus that aggregate, three Spark jobs)
runs once per file version in a session (``sources.filecache``).  Its
result is the raw all-string schema, with Spark's own header naming
(duplicate names numbered, dots kept), and the per-column counts.  The key
is the file's real path, device, inode, size, mtime and ctime, plus
``spark.sql.caseSensitive``, which decides how duplicate headers are
named.  One entry serves every ``strict``, ``decimal`` and ``ordered``
setting: the traits, casts and strict-mode error are derived from the
stored counts on every call.  The entry also keeps the typed plan (the
relation, its casts and ``__idx``) per ``decimal`` and ``ordered``
setting, and a later read gets it back with fresh attributes
(``filecache.plan_once``) instead of building it again.  A repeat read
of an unchanged single local file therefore runs no Spark job before its
first action and sends a handful of Py4J commands; directories, globs
and remote paths are inferred on every call.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.frame import KevinFrame
from kevinlang_spark.sources import filecache
from kevinlang_spark.traits import NUM_DIM, NUM_MEASURE, TEXT_DIM, FieldTraits


def _reader(spark: SparkSession):
    return (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
    )


def _column_stats(raw) -> dict:
    """One aggregation pass: per column — total, nulls, non-numeric
    values, non-integral numeric values.  Backtick-quoted refs: headers
    may contain dots, which bare F.col parses as nested-field access."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, c in enumerate(raw.columns):
        col = F.col(f"`{c}`")
        num = col.try_cast("double")
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__nulls_{i}"))
        aggs.append(
            F.sum(F.when(col.isNotNull() & num.isNull(), 1).otherwise(0)).alias(
                f"__nonnum_{i}"
            )
        )
        aggs.append(
            F.sum(
                F.when(num.isNotNull() & (num != F.floor(num)), 1).otherwise(0)
            ).alias(f"__frac_{i}")
        )
    return raw.agg(*aggs).collect()[0].asDict()


def read_csv(
    spark: SparkSession,
    path: str,
    strict: bool = True,
    ordered: bool = True,
    decimal: bool = False,
) -> KevinFrame:
    """Read a CSV file into a KevinFrame with inferred traits.

    ``decimal=True`` ingests numeric columns as ``DecimalType(38, 18)``
    instead of ``double`` — the engine analog of the reference's
    arbitrary-precision ``Data.Scientific`` values
    (reference src/Data/DataFrame.hs:76, kevin.cabal:30).  Exact decimal
    arithmetic survives aggregation (summing currency at warehouse scale
    accumulates no float drift) at the cost of slower arithmetic; the
    default stays ``double`` for throughput.
    """
    raw = None

    def inference():
        nonlocal raw
        raw = _reader(spark).csv(path)
        return raw.schema, _column_stats(raw)

    key = filecache.version_key(spark, path, "csv", ("spark.sql.caseSensitive",))
    schema, stats = filecache.infer_once(spark, key, inference)
    cols = schema.names
    total = stats["__total"] or 0

    traits: dict[str, FieldTraits] = {}
    casts = {}
    for i, c in enumerate(cols):
        nulls = stats[f"__nulls_{i}"] or 0
        nonnum = stats[f"__nonnum_{i}"] or 0
        frac = stats[f"__frac_{i}"] or 0
        n_numeric = total - nulls - nonnum
        if strict and nulls > 0:
            raise KevinValueError("Invalid data (possibly missing values)")
        if strict and nonnum > 0 and n_numeric > 0:
            # mixed numeric+string column: reference's makeField hits the
            # otherwise-guard and errors (DataFrame.hs:237-238)
            raise KevinValueError("Invalid data (possibly missing values)")
        if nonnum == 0 and n_numeric > 0:
            # all (non-null) values numeric; the year rule matches the
            # exact name only (reference DataFrame.hs:226-228)
            num_type = "decimal(38,18)" if decimal else "double"
            if c == "year":
                traits[c] = NUM_DIM
                casts[c] = "bigint" if frac == 0 else num_type
            else:
                traits[c] = NUM_MEASURE
                casts[c] = num_type
        else:
            traits[c] = TEXT_DIM

    def typed():
        # a stored entry without this variant's plan: the same reader,
        # given its schema
        src = raw if raw is not None else _reader(spark).schema(schema).csv(path)
        df = src.withColumns({c: F.col(f"`{c}`").cast(t) for c, t in casts.items()})
        return KevinFrame.from_df(df, ordered=ordered, traits=traits).df

    df = filecache.plan_once(spark, key, (decimal, ordered), typed)
    return KevinFrame.from_df(df, ordered=ordered, traits=traits)


def write_csv(
    df,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """CSV output matching the reference grammar the reader parses
    (CsvParser.hs:12-45): comma-delimited, fields quoted when needed with
    ``""``-escaped embedded quotes, NULL → empty field.  Distributed
    write (one file per partition); ``partition_by`` gives directory
    partitioning like the parquet sink.  Accepts a KevinFrame or a plain
    DataFrame."""
    if isinstance(df, KevinFrame):
        df = df.df  # plain columns only; order/trait state is presentation
    w = (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("quote", '"')
        .option("escape", '"')
        .option("emptyValue", "")
        .option("nullValue", "")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)
