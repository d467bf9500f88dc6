"""How ``run_pipeline`` commits and skips a stage: a cold stage writes
once and counts its rows during the write, the manifest keeps the
stage's row count and schema, and a skipped stage is read back with that
schema, so it runs no Spark job."""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

from pyspark.ml.linalg import Vectors, VectorUDT
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kevinlang_spark.pipeline import Stage, run_pipeline
from test_csv_cache import _jobs
from test_pipeline_runner import RUNS, _stages

MANIFEST = "_STAGE_MANIFEST.json"


def _manifest(root, name) -> dict:
    with open(os.path.join(root, name, MANIFEST)) as fh:
        return json.load(fh)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )


def test_warm_run_runs_no_job(spark, sf_dir, tmp_path):
    root = str(tmp_path / "pipe")
    cold = run_pipeline(spark, _stages(sf_dir), root)
    n = {k: df.count() for k, df in cold.items()}
    RUNS.clear()
    jobs, warm = _jobs(spark, lambda: run_pipeline(spark, _stages(sf_dir), root))
    assert RUNS == []
    assert jobs == 0
    assert {k: df.count() for k, df in warm.items()} == n


def test_cold_stage_runs_only_its_write(spark, sf_dir, tmp_path):
    for kind, df in (
        ("narrow", _docs(spark, sf_dir).where(F.length("text") >= 100)),
        ("shuffle", _docs(spark, sf_dir).groupBy("source").count()),
    ):
        bare, _ = _jobs(
            spark, lambda: df.write.parquet(str(tmp_path / f"bare-{kind}"))
        )
        stage = Stage("only", lambda: df, version="v")
        root = str(tmp_path / f"pipe-{kind}")
        jobs, _ = _jobs(spark, lambda: run_pipeline(spark, [stage], root))
        assert jobs == bare, kind
        assert _manifest(root, "only")["rows"] == df.count()


ZOO = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField(
            "s",
            T.StructType(
                [
                    T.StructField("x", T.IntegerType(), False),
                    T.StructField("y", T.StringType(), True),
                ]
            ),
            False,
        ),
        T.StructField("arr", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType(), False), False),
        T.StructField("dec", T.DecimalType(10, 2), True),
        T.StructField("d", T.DateType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ntz", T.TimestampNTZType(), True),
        T.StructField("bin", T.BinaryType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("vec", VectorUDT(), True),
    ]
)


def _zoo(spark):
    t = dt.datetime(2021, 3, 4, 5, 6, 7, 890000)
    rows = [
        (1, (1, "a"), [1, 2], {"k": 1}, Decimal("12.34"), t.date(), t, t,
         b"\x00\x01", "abc", Vectors.dense([1.0, 2.0])),
        (2, (2, None), [], {}, None, None, None, None, None, None,
         Vectors.sparse(3, [1], [5.0])),
    ]
    return spark.createDataFrame(rows, ZOO).select(
        "*",
        F.col("name").cast("varchar(5)").alias("vc"),
        F.col("id").alias("a.b c", metadata={"comment": "dotted name"}),
    )


def test_type_zoo_reads_back_with_the_written_schema(spark, tmp_path):
    root = str(tmp_path / "zoo")
    stages = [Stage("zoo", _zoo, version="zoo")]
    cold = run_pipeline(spark, stages, root)["zoo"]
    jobs, warm = _jobs(spark, lambda: run_pipeline(spark, stages, root)["zoo"])
    fresh = spark.read.parquet(os.path.join(root, "zoo"))
    assert jobs == 0
    assert cold.schema == warm.schema == fresh.schema
    assert fresh.schema["a.b c"].metadata == {"comment": "dotted name"}
    want = sorted(_zoo(spark).collect())
    assert sorted(cold.collect()) == sorted(warm.collect()) == want
    assert sorted(fresh.collect()) == want


def test_manifest_rows_match_a_recount(spark, sf_dir, tmp_path):
    root = str(tmp_path / "rows")
    stages = [
        Stage("ingest", lambda spark: _docs(spark, sf_dir), version="ingest"),
        Stage(
            "long",
            lambda ingest: ingest.where(F.length("text") >= 400),
            inputs=("ingest",),
            version="long",
        ),
        Stage(
            "none",
            lambda ingest: ingest.where(F.col("doc_id") < 0),
            inputs=("ingest",),
            version="none",
        ),
    ]
    cold = run_pipeline(spark, stages, root)
    for name in ("ingest", "long", "none"):
        recount = spark.read.parquet(os.path.join(root, name)).count()
        assert _manifest(root, name)["rows"] == recount, name
    assert 0 < _manifest(root, "long")["rows"] < _manifest(root, "ingest")["rows"]
    assert _manifest(root, "none")["rows"] == 0
    warm = run_pipeline(spark, stages, root)["none"]
    assert warm.count() == 0
    assert warm.schema == cold["none"].schema == cold["ingest"].schema


def test_manifest_without_schema_recomputes_that_stage_once(
    spark, sf_dir, tmp_path
):
    root = str(tmp_path / "old")
    run_pipeline(spark, _stages(sf_dir), root)
    m = _manifest(root, "filt")
    del m["schema"]  # as written before manifests stored the schema
    with open(os.path.join(root, "filt", MANIFEST), "w") as fh:
        json.dump(m, fh)
    RUNS.clear()
    run_pipeline(spark, _stages(sf_dir), root)
    assert RUNS == ["filt"]
    assert "schema" in _manifest(root, "filt")
    RUNS.clear()
    run_pipeline(spark, _stages(sf_dir), root)
    assert RUNS == []


def test_stage_output_with_its_own_observation(spark, sf_dir, tmp_path):
    root = str(tmp_path / "obs")
    mine = Observation("longest")
    df = _docs(spark, sf_dir)
    stage = Stage(
        "obs",
        lambda: df.observe(mine, F.max(F.length("text")).alias("longest")),
        version="obs",
    )
    out = run_pipeline(spark, [stage], root)["obs"]
    assert mine.get == {"longest": df.select(F.max(F.length("text"))).first()[0]}
    assert _manifest(root, "obs")["rows"] == df.count() == out.count()
