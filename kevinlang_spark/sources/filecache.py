"""Session-scoped memo of a source's inference pass and typed plan, keyed
on file version.

Reading a CSV or parquet file without a schema costs Spark jobs before the
first action: a header scan and a statistics aggregate for CSV, a footer
read for parquet.  For one regular local file the result only changes when
the file does, so a session runs it once per file version, and a read
that finds no kept plan passes the stored schema to ``.schema()``; the
plan above the scan is the same either way.

A file version is (real path, ``st_dev``, ``st_ino``, ``st_size``,
``st_mtime_ns``, ``st_ctime_ns``) plus the session confs that change what
the pass infers.  Directories, globs, relative paths, non-``file:`` URIs
and scheme-less paths under a non-local default filesystem have no version
and are never stored.  An entry is stored only if the file's ``stat`` is
the same before and after the pass and its mtime is at least
``RACY_NS`` older than the clock read before the pass: a rewrite of the
same size within one mtime tick would otherwise leave the key unchanged
(git's "racy clean" problem).  Each ``SparkSession`` object has its own
store, bounded to ``MAX_ENTRIES``, least recently used first out, and
held only as long as the session object lives; a session built after
``stop()`` is a new object and starts with an empty store.

A stored entry also keeps the typed plan a source builds over the pass's
result (``plan_once``): the relation, its casts and ``__idx``, one per
read variant.  A later read of the same file version gets that plan
re-aliased with ``toDF`` (one Py4J call), not rebuilt, so its columns are
fresh attributes: two reads of one file join on ``a["k"] == b["k"]`` as
reads of two files do.  The entry keeps the plan's Java object, which
holds no reference to the Python session, so the store still goes when
the session object does.
"""

from __future__ import annotations

import os
import stat
import threading
import time
import weakref
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable, Hashable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: entries kept per session
MAX_ENTRIES = 64
#: minimum age of a file's mtime, at the start of the pass, for its entry to be stored
RACY_NS = 2_000_000_000
#: Hadoop glob metacharacters (and the escape); such a path may name many files
_GLOB_CHARS = frozenset("*?[]{}\\")

_stores: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_lock = threading.Lock()


@dataclass
class _Entry:
    """One stored file version: the inference pass's result, and the
    typed plans built over it by read variant, each as its Java DataFrame
    and a Java Seq of its column names (so re-aliasing is one call)."""

    value: Any
    plans: dict = field(default_factory=dict)


def _stat(real: str) -> tuple | None:
    try:
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _local_path(spark: SparkSession, path: Any) -> str | None:
    """The absolute local path Spark reads for ``path``, or None when
    ``path`` is not one plainly named local file."""
    if not isinstance(path, str) or _GLOB_CHARS.intersection(path):
        return None
    url = urlparse(path)
    if url.scheme == "file":
        if url.netloc or url.fragment:
            return None
        local = url.path
    elif url.scheme == "":
        # a session conf overrides the context's Hadoop conf for reads
        default_fs = spark.conf.get("fs.defaultFS", None) or (
            spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        )
        if default_fs and not default_fs.startswith("file:"):
            return None
        local = path
    else:
        return None
    return local if os.path.isabs(local) else None


def version_key(
    spark: SparkSession, path: Any, fmt: str, confs: tuple[str, ...]
) -> tuple | None:
    """Cache key of the file ``path`` names as read by ``fmt`` under the
    session's ``confs``, or None if it is not a cacheable file."""
    local = _local_path(spark, path)
    if local is None:
        return None
    real = os.path.realpath(local)
    st = _stat(real)
    if st is None:
        return None
    return (fmt, real, st, tuple(spark.conf.get(c) for c in confs))


def infer_once(spark: SparkSession, key: tuple | None, infer: Callable[[], Any]) -> Any:
    """``infer()``'s result for the file version ``key``: the stored one
    if an earlier call in this session stored it, else computed now (and
    stored, if the file was stable).  A None key is computed every call."""
    if key is None:
        return infer()
    with _lock:
        store = _stores.setdefault(spark, OrderedDict())
        if key in store:
            store.move_to_end(key)
            return store[key].value
    started = time.time_ns()
    value = infer()
    _, real, st, _ = key
    if _stat(real) == st and st[3] <= started - RACY_NS:
        with _lock:
            store[key] = _Entry(value)
            while len(store) > MAX_ENTRIES:
                store.popitem(last=False)
    return value


def plan_once(
    spark: SparkSession,
    key: tuple | None,
    variant: Hashable,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The typed plan of the file version ``key`` read as ``variant``.

    When ``infer_once`` stored ``key``, the first call keeps ``build()``'s
    plan in that entry and returns it; later calls return it re-aliased
    (``toDF``: the same plan over fresh attribute ids).  Without a stored
    entry, ``build()`` runs every call."""
    with _lock:
        entry = _stores.get(spark, {}).get(key) if key is not None else None
        kept = entry.plans.get(variant) if entry is not None else None
    if kept is not None:
        jdf, jnames = kept
        return DataFrame(jdf.toDF(jnames), spark)
    df = build()
    if entry is not None:
        kept = (df._jdf, df._jseq(df.columns))
        with _lock:
            entry.plans[variant] = kept
    return df
