"""Sinks: partitioned/bucketed parquet output — the write-side half of the
100 TB design.

- ``write_parquet(partition_by=...)`` → directory partitioning: downstream
  filters on the partition column prune whole directories (partition
  pruning at the file-index level).
- hash-bucketed tables, whose joins on the bucket key run WITHOUT a
  shuffle, are written by ``sources.parquet.write_bucketed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def salted(df: DataFrame, key: str, salt_buckets: int = 16) -> DataFrame:
    """Add a ``__salt`` column for manual skew mitigation: join on
    (key, __salt) after exploding the small side across salt values.
    AQE's skew-join split handles most cases; salting remains for extreme
    single-key skew (one key ≫ a partition).  The composed, parity-tested
    operators are ``operators/skew.py:salted_join`` / ``salted_agg``."""
    from pyspark.sql import functions as F

    return df.withColumn("__salt", F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt_buckets)))


def explode_salt(small: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Replicate the small side across every salt value (the other half of
    a salted join)."""
    from pyspark.sql import functions as F

    return small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus as ``n_shards`` deterministic hash shards
    plus a content MANIFEST — the handoff format a training job consumes
    (shard k of n per data-loader rank, no coordination needed because
    the shard of a document is a pure function of its id, stable across
    runs, engines, and cluster sizes).

    The manifest (``<path>/_manifest``) records per shard the row count
    and an ORDER-INDEPENDENT content checksum (sum of 60-bit row
    fingerprints mod 2^61), so a reader can verify integrity of any
    single shard without touching the others: both the count and the
    checksum are mergeable aggregates computed in the same pass that
    writes the data."""
    from pyspark.sql import functions as F

    from kevinlang_spark.operators.sampling import hash_bucket

    sharded = df.withColumn(
        "shard", hash_bucket(F.col(id_col), n_shards).cast("int")
    )
    sharded.write.mode(mode).partitionBy("shard").parquet(f"{path}/data")
    _shard_manifest(sharded).write.mode(mode).parquet(f"{path}/_manifest")


def _shard_manifest(sharded: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    # SORTED column order: a partitionBy round-trip moves the partition
    # column to the end of the schema, and the checksum must not care
    row_fp = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", *sorted(sharded.columns))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_rows"),
        # decimal accumulator: a sum of 60-bit fingerprints overflows
        # int64 after ~8 rows under ANSI; decimal(38,0) holds ~10^18 rows
        F.pmod(
            F.sum(row_fp.cast("decimal(38,0)")), F.lit((1 << 61) - 1)
        )
        .cast("bigint")
        .alias("checksum"),
    )


def verify_shards(spark, path: str) -> DataFrame:
    """Recompute each shard's (n_rows, checksum) from the data files and
    compare to the manifest: (shard, ok, n_manifest, n_actual).  Reads
    prune to one shard directory per task group — verification of a
    single shard touches 1/n of the corpus."""
    from pyspark.sql import functions as F

    data = spark.read.parquet(f"{path}/data")
    actual = _shard_manifest(data).withColumnsRenamed(
        {"n_rows": "n_actual", "checksum": "c_actual"}
    )
    manifest = spark.read.parquet(f"{path}/_manifest")
    return (
        manifest.join(actual, "shard", "full_outer")
        .select(
            "shard",
            (
                F.col("n_rows").eqNullSafe(F.col("n_actual"))
                & F.col("checksum").eqNullSafe(F.col("c_actual"))
            ).alias("ok"),
            F.col("n_rows").alias("n_manifest"),
            "n_actual",
        )
    )


def erase_keys_copy_on_write(
    spark,
    path: str,
    erase_df: DataFrame,
    on: str,
) -> dict:
    """Right-to-erasure over a plain-parquet dataset WITHOUT rewriting
    the world: find the files that actually contain any of the erase
    keys (one scan of the key column joined against the erase list),
    rewrite ONLY those files minus the erased rows, and leave every
    other file physically untouched — the copy-on-write delete pattern
    table formats (Delta/Iceberg) implement, expressed on raw parquet.

    Ordering is write-then-delete: survivor rows are appended as new
    part files BEFORE the affected originals are removed, so a crash
    mid-operation leaves duplicated survivors (re-runnable — the erase
    keys are still absent from the new files) rather than data loss.
    Atomic swap needs a real table format; this documents the boundary.

    Returns {"files_total", "files_rewritten", "rows_deleted"}.
    """
    import os

    from pyspark.sql import functions as F

    erase = erase_df.select(F.col(on)).distinct()
    data = spark.read.parquet(path)
    with_file = data.withColumn("__f", F.input_file_name())
    affected_files = [
        r[0]
        for r in with_file.join(F.broadcast(erase), on)
        .select("__f")
        .distinct()
        .collect()
    ]
    n_total = with_file.select("__f").distinct().count()
    if not affected_files:
        return {
            "files_total": n_total,
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    victims = spark.read.parquet(*affected_files)
    survivors = victims.join(F.broadcast(erase), on, "left_anti")
    n_deleted = victims.count() - survivors.count()
    # write first (new part files in the same directory), delete after
    survivors.write.mode("append").parquet(path)
    for f in affected_files:
        os.remove(f.removeprefix("file://"))
    return {
        "files_total": n_total,
        "files_rewritten": len(affected_files),
        "rows_deleted": n_deleted,
    }
