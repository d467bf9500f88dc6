"""The session-scoped inference cache behind read_csv and read_parquet
(``sources.filecache``): a repeat read of an unchanged local file runs no
Spark job, and any rewrite of the file is inferred again.

An entry is stored only for a file whose mtime is at least
``filecache.RACY_NS`` old, so tests that need a stored entry backdate the
file with ``os.utime`` first."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, DecimalType, DoubleType, StringType

from kevinlang_spark.errors import KevinValueError
from kevinlang_spark.sources import filecache
from kevinlang_spark.sources.csv import read_csv
from kevinlang_spark.sources.parquet import read_parquet
from kevinlang_spark.traits import KType
from conftest import _jvm_commands

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, text: str, age_s: float | None = 60) -> str:
    """Write ``text`` to ``path``; with ``age_s``, backdate its mtime by
    that many seconds so a read may store it."""
    path.write_text(text)
    if age_s is not None:
        _backdate(path, age_s)
    return str(path)


def _backdate(path, age_s: float) -> None:
    old = time.time() - age_s
    os.utime(path, (old, old))


def _jobs(spark, fn):
    """(number of Spark jobs ``fn`` ran, its result)."""
    sc = spark.sparkContext
    group = f"csv-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _ktypes(kf) -> dict:
    return {c: t.ktype for c, t in kf.traits.items()}


# --- job counts (the cost a cache hit saves, and what a miss still pays) ---


def test_read_csv_miss_runs_at_most_3_jobs_and_hit_runs_none(spark, tmp_path):
    path = _write(tmp_path / "o.csv", "store,year,qty\ns1,2001,3\ns2,2002,4.5\n")
    miss_jobs, miss = _jobs(spark, lambda: read_csv(spark, path))
    hit_jobs, hit = _jobs(spark, lambda: read_csv(spark, path))
    assert miss_jobs <= 3
    assert hit_jobs == 0
    assert hit.df.schema == miss.df.schema
    assert hit.traits == miss.traits
    assert hit.collect() == miss.collect()


def test_read_parquet_single_file_hit_runs_no_job(spark, tmp_path):
    path = tmp_path / "stores.parquet"
    pq.write_table(
        pa.table(
            {
                "store": ["s1", "s2", "s3"],
                "n": pa.array([1, 2, None], pa.int64()),
                "x": [0.5, 1.5, 2.5],
                "ts": pa.array([1, 2, 3], pa.timestamp("us", tz="UTC")),
            }
        ),
        path,
    )
    _backdate(path, 60)
    miss_jobs, miss = _jobs(spark, lambda: read_parquet(spark, str(path), ordered=True))
    hit_jobs, hit = _jobs(spark, lambda: read_parquet(spark, str(path), ordered=True))
    assert miss_jobs >= 1
    assert hit_jobs == 0
    assert hit.df.schema == miss.df.schema
    assert hit.collect() == miss.collect()


# --- every rewrite is inferred again ---


def test_same_size_rewrite_reinfers(spark, tmp_path):
    p = tmp_path / "s.csv"
    path = _write(p, "a,b\n1,x\n2,y\n")
    assert _ktypes(read_csv(spark, path)) == {"a": KType.NUMBER, "b": KType.TEXT}
    _write(p, "a,b\nx,1\ny,2\n", age_s=30)
    kf = read_csv(spark, path)
    assert _ktypes(kf) == {"a": KType.TEXT, "b": KType.NUMBER}
    assert [tuple(r) for r in kf.collect()] == [("x", 1.0), ("y", 2.0)]


def test_same_size_rewrite_with_restored_mtime_reinfers(spark, tmp_path):
    """A copy that keeps the old mtime (``cp -p``, ``rsync -t``) still
    changes the ctime, which is part of the key."""
    p = tmp_path / "s.csv"
    path = _write(p, "a\n1\n2\n")
    read_csv(spark, path)
    mtime_ns = os.stat(p).st_mtime_ns
    p.write_text("a\nx\ny\n")
    os.utime(p, ns=(mtime_ns, mtime_ns))
    assert _ktypes(read_csv(spark, path)) == {"a": KType.TEXT}


def test_new_size_rewrite_reinfers(spark, tmp_path):
    p = tmp_path / "n.csv"
    path = _write(p, "a,b\n1,x\n")
    assert _ktypes(read_csv(spark, path)) == {"a": KType.NUMBER, "b": KType.TEXT}
    _write(p, "a,b\n1,2\n33,4.5\n", age_s=30)
    kf = read_csv(spark, path)
    assert _ktypes(kf) == {"a": KType.NUMBER, "b": KType.NUMBER}
    assert kf.height() == 2


def test_rewrite_into_blank_cell_raises_on_next_strict_read(spark, tmp_path):
    p = tmp_path / "b.csv"
    path = _write(p, "a,b\n1,2\n3,4\n")
    assert read_csv(spark, path).height() == 2
    _write(p, "a,b\n1,2\n3,\n", age_s=30)
    with pytest.raises(KevinValueError, match="Invalid data"):
        read_csv(spark, path)
    assert read_csv(spark, path, strict=False).height() == 2


# --- one entry serves every option ---


def test_lenient_then_strict_on_one_entry(spark, tmp_path):
    path = _write(tmp_path / "m.csv", "a,b\n1,x\n,y\n")
    kf = read_csv(spark, path, strict=False)
    assert _ktypes(kf) == {"a": KType.NUMBER, "b": KType.TEXT}

    def strict():
        with pytest.raises(KevinValueError, match="Invalid data"):
            read_csv(spark, path)

    jobs, _ = _jobs(spark, strict)
    assert jobs == 0  # the error is re-derived from the stored stats


def test_strict_then_decimal_on_one_entry(spark, tmp_path):
    path = _write(tmp_path / "d.csv", "name,price\na,1.10\nb,2.25\n")
    plain = read_csv(spark, path)
    assert plain.df.schema["price"].dataType == DoubleType()
    jobs, dec = _jobs(spark, lambda: read_csv(spark, path, decimal=True))
    assert jobs == 0
    assert dec.df.schema["price"].dataType == DecimalType(38, 18)
    assert dec.traits == plain.traits
    assert [str(r["price"]) for r in dec.collect()] == [
        "1.100000000000000000",
        "2.250000000000000000",
    ]


# --- what is not stored ---


def test_fresh_file_is_not_stored_and_rewrite_in_same_tick_is_seen(spark, tmp_path):
    """A file modified less than RACY_NS before the read is not stored: a
    same-size rewrite that keeps the same mtime (a coarse clock tick)
    must still be read afresh."""
    p = tmp_path / "f.csv"
    path = _write(p, "a\n1\n2\n", age_s=None)
    assert _ktypes(read_csv(spark, path)) == {"a": KType.NUMBER}
    jobs, _ = _jobs(spark, lambda: read_csv(spark, path))
    assert jobs > 0
    mtime_ns = os.stat(p).st_mtime_ns
    p.write_text("a\nx\ny\n")
    os.utime(p, ns=(mtime_ns, mtime_ns))
    kf = read_csv(spark, path)
    assert _ktypes(kf) == {"a": KType.TEXT}
    assert [r["a"] for r in kf.collect()] == ["x", "y"]


def test_file_changed_during_inference_is_not_stored(spark, tmp_path):
    p = tmp_path / "r.csv"
    path = _write(p, "a\n1\n")
    key = filecache.version_key(spark, path, "csv", ())

    def rewrite_while_inferring():
        _write(p, "a\n2\n")
        return "inferred from the old version"

    filecache.infer_once(spark, key, rewrite_while_inferring)
    assert filecache.infer_once(spark, key, lambda: "inferred again") == "inferred again"


def test_concurrent_lookups_keep_the_store_bounded_and_right(spark, tmp_path):
    """Threads sharing one session's store: every call gets its own
    file's value, and evictions keep the store at MAX_ENTRIES."""
    n_files = filecache.MAX_ENTRIES + 16
    keys = []
    for i in range(n_files):
        path = _write(tmp_path / f"{i}.csv", f"a\n{i}\n")
        keys.append(filecache.version_key(spark, path, "csv", ()))
    wrong, errors = [], []

    def worker(seed: int) -> None:
        try:
            for j in range(1000):
                i = (seed * 7 + j * 13) % n_files
                if filecache.infer_once(spark, keys[i], lambda i=i: i) != i:
                    wrong.append(i)
        except Exception as e:  # a race shows as an exception in a thread
            errors.append(repr(e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert len(filecache._stores[spark]) == filecache.MAX_ENTRIES


def test_directory_is_never_cached(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    _write(d / "part-0.csv", "a,b\n1,x\n")
    _backdate(d, 60)
    assert filecache.version_key(spark, str(d), "csv", ()) is None
    first, kf = _jobs(spark, lambda: read_csv(spark, str(d)))
    again, _ = _jobs(spark, lambda: read_csv(spark, str(d)))
    assert first > 0 and again > 0
    assert kf.height() == 1


def test_only_plainly_named_local_files_have_a_key(spark, tmp_path):
    names = ("o.csv", "o*.csv", "o{1,2}.csv")
    for name in names:
        _write(tmp_path / name, "a\n1\n")
    plain = str(tmp_path / "o.csv")
    assert filecache.version_key(spark, plain, "csv", ()) is not None
    assert filecache.version_key(spark, "file://" + plain, "csv", ()) is not None
    for path in (
        os.path.relpath(plain),
        str(tmp_path / "o*.csv"),
        str(tmp_path / "o{1,2}.csv"),
        "hdfs://nn" + plain,
        "file://host" + plain,
    ):
        assert filecache.version_key(spark, path, "csv", ()) is None, path


# --- header naming and confs ---


def test_duplicate_and_dotted_headers_same_on_hit_and_miss(spark, tmp_path):
    path = _write(tmp_path / "h.csv", "a,a,b.c\n1,x,2\n3,y,4\n")
    miss = read_csv(spark, path)
    jobs, hit = _jobs(spark, lambda: read_csv(spark, path))
    assert jobs == 0
    assert hit.columns == miss.columns
    assert hit.traits == miss.traits
    assert hit.collect() == miss.collect()
    assert hit.df.schema["b.c"].dataType == DoubleType()


def test_case_sensitivity_flip_misses(spark, tmp_path):
    path = _write(tmp_path / "c.csv", "a,A\nx,1\n")
    before = spark.conf.get("spark.sql.caseSensitive")
    try:
        spark.conf.set("spark.sql.caseSensitive", "false")
        insensitive = read_csv(spark, path).columns
        spark.conf.set("spark.sql.caseSensitive", "true")
        jobs, kf = _jobs(spark, lambda: read_csv(spark, path))
    finally:
        spark.conf.set("spark.sql.caseSensitive", before)
    assert jobs > 0
    assert insensitive != kf.columns
    assert kf.columns == ["a", "A"]
    assert kf.df.schema["a"].dataType == StringType()


def test_parquet_schema_conf_flip_misses(spark, tmp_path):
    path = tmp_path / "b.parquet"
    pq.write_table(pa.table({"k": pa.array([b"x", b"y"], pa.binary())}), path)
    _backdate(path, 60)
    before = spark.conf.get("spark.sql.parquet.binaryAsString")
    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "false")
        as_binary = read_parquet(spark, str(path)).df.schema["k"].dataType
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        jobs, kf = _jobs(spark, lambda: read_parquet(spark, str(path)))
    finally:
        spark.conf.set("spark.sql.parquet.binaryAsString", before)
    assert as_binary == BinaryType()
    assert jobs > 0
    assert kf.df.schema["k"].dataType == StringType()
    assert [r["k"] for r in kf.collect()] == ["x", "y"]


# --- scope ---

_NEW_SESSION_SCRIPT = """
import os, sys, time, uuid
from kevinlang_spark import get_spark
from kevinlang_spark.sources.csv import read_csv

def session():
    return get_spark("csv-cache-scope", master="local[1]", shuffle_partitions=1,
                     extra_conf={"spark.driver.memory": "512m",
                                 "spark.ui.showConsoleProgress": "false"})

def jobs(spark, fn):
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "probe")
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))

path = sys.argv[1]
old = time.time() - 60
os.utime(path, (old, old))
first = session()
read_csv(first, path)
hit = jobs(first, lambda: read_csv(first, path))
first.stop()
second = session()
assert second is not first
miss = jobs(second, lambda: read_csv(second, path))
second.stop()
print(hit, miss)
"""


def test_new_session_after_stop_sees_no_old_entries(tmp_path):
    path = _write(tmp_path / "o.csv", "a,b\n1,x\n2,y\n")
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_SCRIPT, path],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    hit, miss = out.stdout.split()[-2:]
    assert hit == "0"
    assert int(miss) > 0  # the same file version, read afresh


# --- a hit keeps the typed plan ---


def _aged_parquet(path, table) -> str:
    pq.write_table(table, path)
    _backdate(path, 60)
    return str(path)


def test_hit_sends_few_commands_and_runs_no_job(spark, monkeypatch, tmp_path):
    """A hit re-aliases the kept plan instead of rebuilding the relation,
    its casts and ``__idx``."""
    csv = _write(tmp_path / "o.csv", "store,year,qty\ns1,2001,3\ns2,2002,4.5\n")
    pqt = _aged_parquet(tmp_path / "s.parquet", pa.table({"store": ["s1", "s2"], "n": [1, 2]}))
    for read in (lambda: read_csv(spark, csv), lambda: read_parquet(spark, pqt, ordered=True)):
        first = read()
        read()  # the first hit builds nothing new either: the miss kept its plan
        jobs, hit = _jobs(spark, read)
        assert jobs == 0
        assert _jvm_commands(monkeypatch, read) <= 15
        assert hit.df.schema == first.df.schema
        assert hit.collect() == first.collect()


@pytest.mark.parametrize("source", ["csv", "parquet"])
def test_two_reads_of_one_file_merge_on_a_column_expression(spark, tmp_path, source):
    """Each hit has its own attribute ids, so two reads of one file join
    on ``a.df["k"] == b.df["k"]`` as two files do (a shared plan would
    make the condition ambiguous)."""
    if source == "csv":
        path = _write(tmp_path / "k.csv", "k,v\n1,a\n2,b\n2,c\n")
        read = lambda: read_csv(spark, path)  # noqa: E731
    else:
        table = pa.table({"k": pa.array([1, 2, 2], pa.int64()), "v": ["a", "b", "c"]})
        path = _aged_parquet(tmp_path / "k.parquet", table)
        read = lambda: read_parquet(spark, path, ordered=True)  # noqa: E731
    miss = read()
    a, b = read(), read()
    want = [(1, "a", 1, "a"), (2, "b", 2, "b"), (2, "b", 2, "c"), (2, "c", 2, "b"), (2, "c", 2, "c")]
    for left, right in ((a, b), (miss, a)):
        merged = left.merge(right, on=left.df["k"] == right.df["k"])
        assert merged.columns == ["k", "v", "k_r", "v_r"]
        assert [tuple(r) for r in merged.collect()] == [
            tuple(float(x) if source == "csv" and i % 2 == 0 else x for i, x in enumerate(w))
            for w in want
        ]


def test_rewritten_file_gets_a_new_plan(spark, tmp_path):
    p = tmp_path / "w.csv"
    path = _write(p, "a,b\n1,x\n2,y\n")
    read_csv(spark, path)
    assert [tuple(r) for r in read_csv(spark, path).collect()] == [(1.0, "x"), (2.0, "y")]
    _write(p, "a,b\n3,z\n", age_s=30)
    assert [tuple(r) for r in read_csv(spark, path).collect()] == [(3.0, "z")]
    q = tmp_path / "w.parquet"
    _aged_parquet(q, pa.table({"a": [1, 2]}))
    read_parquet(spark, str(q))
    assert sorted(r["a"] for r in read_parquet(spark, str(q)).collect()) == [1, 2]
    pq.write_table(pa.table({"a": [7, 8, 9]}), q)
    os.utime(q, (time.time() - 30, time.time() - 30))
    assert sorted(r["a"] for r in read_parquet(spark, str(q)).collect()) == [7, 8, 9]


def test_strict_read_after_lenient_hit_raises(spark, tmp_path):
    path = _write(tmp_path / "m.csv", "a,b\n1,x\n,y\n")
    read_csv(spark, path, strict=False)
    hit = read_csv(spark, path, strict=False)
    assert [tuple(r) for r in hit.collect()] == [(1.0, "x"), (None, "y")]
    with pytest.raises(KevinValueError, match="Invalid data"):
        read_csv(spark, path)


def test_decimal_and_ordered_variants_keep_their_own_plans(spark, tmp_path):
    path = _write(tmp_path / "v.csv", "name,price\nb,2.25\na,1.10\n")
    for _ in range(2):  # a miss or first build, then a hit of each variant
        for decimal in (False, True):
            for ordered in (True, False):
                kf = read_csv(spark, path, decimal=decimal, ordered=ordered)
                want = DecimalType(38, 18) if decimal else DoubleType()
                assert kf.df.schema["price"].dataType == want
                assert kf.ordered == ordered
                assert ("__idx" in kf.df.columns) == ordered
                if ordered:
                    assert [r["name"] for r in kf.collect()] == ["b", "a"]
    q = _aged_parquet(tmp_path / "v.parquet", pa.table({"n": [3, 1, 2]}))
    for _ in range(2):
        for ordered in (True, False):
            kf = read_parquet(spark, q, ordered=ordered)
            assert kf.ordered == ordered
            assert ("__idx" in kf.df.columns) == ordered
            if ordered:
                assert [r["n"] for r in kf.collect()] == [3, 1, 2]


def test_concurrent_hits_keep_one_plan_per_variant(spark, tmp_path):
    """Threads reading one stored file in every variant: each read gets
    its variant's types and order, and the entry keeps one plan each."""
    path = _write(tmp_path / "t.csv", "name,price\nb,2.25\na,1.10\n")
    read_csv(spark, path)
    variants = [(d, o) for d in (False, True) for o in (False, True)]
    wrong, errors = [], []

    def worker(seed: int) -> None:
        try:
            for j in range(12):
                decimal, ordered = variants[(seed + j) % len(variants)]
                kf = read_csv(spark, path, decimal=decimal, ordered=ordered)
                want = DecimalType(38, 18) if decimal else DoubleType()
                if kf.df.schema["price"].dataType != want or kf.ordered != ordered:
                    wrong.append((decimal, ordered))
        except Exception as e:  # a race shows as an exception in a thread
            errors.append(repr(e))

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    key = filecache.version_key(spark, path, "csv", ("spark.sql.caseSensitive",))
    assert sorted(filecache._stores[spark][key].plans) == sorted(variants)
    assert [r["name"] for r in read_csv(spark, path).collect()] == ["b", "a"]
