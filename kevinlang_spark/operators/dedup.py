"""Deduplication operators for large-scale document pipelines.

Exact dedup is a hash-groupBy; near-dup comes in three flavors —
MinHash+LSH banding (Jaccard), SimHash (Hamming), and exact n-gram
Jaccard for verification — plus embedding-cosine near-dup in
``similarity.py``.  All of them follow the same scale pattern:

    per-row signature (narrow, codegen)  →  candidate generation by
    bucket shuffle (the ONLY shuffle, on short keys)  →  within-bucket
    verification (narrow again)

so the cluster cost is one shuffle of (key, id) pairs, never an O(n²)
cross join.  Signatures use deterministic seeded hash families
(xxhash64 base + affine permutations mod a Mersenne prime), so results
are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import random

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kevinlang_spark.functions.textexpr import (
    normalize_text,
    shingle_hashes,
    token_count,
    tokenize,
    word_shingles,
)

# 31-bit Mersenne prime: a,h < 2^31 keeps a·h+b < 2^62 — no long overflow
# under ANSI arithmetic, and 2^31 hash space is ample for minhash.
MERSENNE = (1 << 31) - 1


# --------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------- #


def dedup_exact(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup on the given columns (all by default): hash-groupBy,
    keeps an arbitrary representative — ``dropDuplicates``, Catalyst's
    partial-then-final First aggregation."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


from kevinlang_spark.operators.util import spread as _spread  # shared plumbing


def dedup_exact_by_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact content dedup with a DETERMINISTIC representative: group by
    normalized-text fingerprint, keep the min id.  One shuffle on the
    16-byte digest; min() does map-side partial aggregation.  The
    fingerprint pass is spread across cores first when the source is
    under-partitioned (see ``_spread``)."""
    return (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.md5(normalize_text(F.col(text_col))).alias("fp"), id_col)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )


# --------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------- #


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE - 1), rng.randrange(0, MERSENNE - 1))
        for _ in range(num_hashes)
    ]


def shingle_sig_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """``(sh_df, sig_df)`` — the two inputs of the dedup pipeline, built
    from ONE checkpointed text pass.

    ``sh_df`` = (id, shh array<bigint>): 64-bit xxhash64 shingle-hash
    sets, MATERIALIZED.  The shingle strings are never stored: Jaccard
    verify intersects the hash values instead (set Jaccard is
    hash-invariant up to 64-bit collisions, ~1e-14 per pair at
    500-shingle docs), which shrinks the checkpoint and the verify joins
    by the full text volume.

    ``sig_df`` = (id, sig array<bigint>): MinHash signatures computed
    IN-ROW over the stored hashes — one ``array_min`` of affine
    permutations per hash function, inside the scan of the checkpointed
    table; no shuffle, no Python worker, no second checkpoint.  Empty
    documents get a NULL signature, which banding filters out.

    The window-hash and signature expressions are SQL text, one
    ``F.expr`` call each.  Built Column by Column, every expression node
    is its own Py4J round trip (about 10–40 commands a node): the
    ``num_hashes`` permutation lambdas alone cost thousands of commands,
    more build time than the Spark jobs of a 1,000-document run.  SQL
    integer literals below 2^31 parse as INT, as ``F.lit`` makes them,
    so the analyzed plan is the one the Column API would build.

    This is the only MinHash signature builder: every near-dup entry
    point that is not handed its inputs builds them here."""
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    # shingle hashing without building shingle STRINGS: hash each token to
    # int64, then hash each n-token window as xxhash64 over the sliced
    # hash array (binary, no concat_ws allocation).  Distinct shingles ↔
    # distinct window-hashes up to 64-bit collisions; the set Jaccard the
    # verifier computes is identical.  Mirrors word_shingles' short-doc
    # rule: k ≤ n tokens → one window covering the whole doc.
    # token-hash array staged into its OWN projection: the window pass
    # references it three times (the size guard, the window count, every
    # slice), and HOF-built arrays are ineligible for subexpression
    # elimination — inline, the tokenize+hash pass ran ~3× per row
    th = F.transform(tokenize(F.col("__t")), lambda t: F.xxhash64(t))
    # NULL text → size(NULL) = NULL, and a NULL condition falls through to
    # ELSE — which would fabricate [xxhash64(NULL)] and pair every
    # NULL-text doc with every other; treat NULL like empty explicitly
    shh = F.expr(
        "CASE WHEN size(__th) IS NULL OR size(__th) <= 0"
        " THEN CAST(array() AS ARRAY<BIGINT>) ELSE array_distinct(transform("
        f"sequence(1, greatest(size(__th) - {shingle_n - 1}, 1)),"
        f" i -> xxhash64(slice(__th, i, {shingle_n})))) END"
    )
    sh_df = (
        # repartition the RAW text first: a small corpus often arrives as
        # one parquet partition, and computing shingles before the shuffle
        # would run the whole tokenize+hash pass in a single task
        # (measured 4.5s of an 11s pipeline); shuffling raw rows first
        # spreads the heavy pass across all cores
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .repartition(n_part)
        .select("id", th.alias("__th"))
        .select("id", shh.alias("shh"))
        # trade-off: the blocks live on executors with the lineage cut, so
        # this is NOT executor-loss tolerant (a lost block fails the query);
        # write_minhash_index is the durable alternative
        .localCheckpoint(eager=True)
    )
    # signatures IN-ROW: each of the num_hashes permutations is an
    # array_min over a transform of the stored hash set, computed inside
    # the scan stage of the checkpointed hash table — no shuffle, and the
    # exploded shingle rows (the largest intermediate a groupBy-min would
    # need) never exist.  Empty hash set → NULL sig, which band_keys
    # filters out.
    mins = ", ".join(
        f"array_min(transform(shh, h -> pmod({a} * pmod(h, {MERSENNE}) + {b},"
        f" {MERSENNE})))"
        for a, b in _hash_params(num_hashes, seed)
    )
    sig_df = sh_df.select(
        "id", F.expr(f"CASE WHEN size(shh) > 0 THEN array({mins}) END").alias("sig")
    )
    return sh_df, sig_df


def _band_rows(num_hashes: int, bands: int) -> int:
    """Signature values per LSH band; raises before any Spark work on a
    split that cannot band."""
    if bands <= 0 or num_hashes % bands != 0:
        # rows=0 would key every doc into ONE bucket (full quadratic
        # blowup); a non-divisible split would silently ignore trailing
        # hashes
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    return num_hashes // bands


def band_keys(sig_df: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, key) LSH band keys of a (id, sig) signature frame: each
    band's ``rows`` signature values hash to one 64-bit key.  Scan-stage
    explode — the banding used by both the self-join (batch dedup) and
    the bipartite probe-vs-index flows.  All bands are one SQL
    expression (see ``shingle_sig_df``), so building them costs the same
    few JVM commands at any band count."""
    keys = ", ".join(
        f"struct({b} AS band, xxhash64(concat_ws(',', transform("
        f"slice(sig, {b * rows + 1}, {rows}), v -> CAST(v AS STRING)))) AS key)"
        for b in range(bands)
    )
    return (
        sig_df.where(F.col("sig").isNotNull())
        .select("id", F.expr(f"explode(array({keys}))").alias("bk"))
        .select("id", "bk.band", "bk.key")
    )


def minhash_lsh_candidates(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via LSH banding.

    ``max_bucket_size`` guards the quadratic failure mode: a mega-cluster
    of near-identical documents puts its whole membership into one band
    bucket, and the within-bucket pair generation goes O(m²).  Buckets
    above the cap are skipped — at that duplication level the cluster is
    better handled by exact dedup on content fingerprints first.  The cap
    also bounds per-TASK work (a bucket's pairs are generated in the task
    holding it), so keep it modest; pass None to disable.

    Materialized signature → ``bands`` band-keys (xxhash64 of each band's
    rows) → explode → groupBy (band, key) into id arrays → in-bucket pair
    expansion as an array expression.  ONE shuffle of (band_key, id) —
    bands·n short rows — and no join anywhere: singleton buckets (the vast
    majority) die in the size filter before producing any row.  Pairs are
    distinct-ed; verification (exact Jaccard) is a separate op so callers
    can tune the candidate/verify trade-off.

    Without ``signatures`` the call signs ``df`` with ``shingle_sig_df``,
    which runs its eager checkpoint job at call time.
    """
    rows = _band_rows(num_hashes, bands)
    sig_df = (
        signatures
        if signatures is not None
        else shingle_sig_df(df, id_col, text_col, num_hashes, shingle_n, seed)[1]
    )
    banded = band_keys(sig_df, bands, rows)
    buckets = banded.groupBy("band", "key").agg(F.collect_list("id").alias("ids"))
    buckets = buckets.where(F.size("ids") >= 2)
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    # in-bucket pair expansion in TWO explodes: posexplode each (sorted)
    # bucket to its members, then pair each member with the tail of its
    # own bucket array.  Peak per-value memory is one bucket array (m ids,
    # bounded by the cap) — never the m²/2 pair structs a single flattened
    # pair array would materialize before exploding.  Ids are unique
    # within a bucket (one row per (id, band) upstream), so sorting gives
    # deterministic id_a < id_b.
    sorted_b = buckets.select(F.array_sort("ids").alias("ids"))
    lefts = sorted_b.select(
        "ids", F.posexplode("ids").alias("__i", "id_a")
    )
    return (
        lefts.select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("__i") + 2, F.greatest(F.size("ids"), F.lit(1)))
            ).alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(
    df: DataFrame | None,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: two joins to attach
    shingle sets (id, sh), then array_intersect/union — no explode.  The
    pair side is small (LSH candidates, bounded by bucket caps), so AQE
    turns both joins into broadcasts at runtime.

    Without ``shingles`` the call hashes ``df`` with ``shingle_sig_df``,
    which runs its eager checkpoint job at call time."""
    if shingles is None:
        sh_df = shingle_sig_df(df, id_col, text_col, shingle_n=shingle_n)[0]
        shingles = sh_df.withColumnRenamed("shh", "sh")
    out = (
        pairs.join(shingles.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shingles.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold.
    ONE materialized shingle-hash table feeds both the (codegen,
    join-free) signature aggregation and the verification joins — the
    text is tokenized once, checkpointed once, and only 8-byte hashes
    flow through every shuffle.

    Defaults (32 hashes, 16 bands ⇒ 2 rows/band) are sized for dedup at
    threshold ≥ 0.8: candidate-miss probability per pair is
    (1 − J²)¹⁶ ≤ 8e-8 at J = 0.8 and ~3e-12 at J = 0.9, so the
    verified output equals the exact-Jaccard pair set in practice while
    halving signature and banding cost vs the classic 64-hash setup."""
    sh_df, sig_df = shingle_sig_df(df, id_col, text_col, num_hashes, shingle_n)
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, signatures=sig_df,
    )
    return jaccard_verify(
        df, cands, id_col, text_col, shingle_n, threshold,
        shingles=sh_df.select("id", F.col("shh").alias("sh")),
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> None:
    """Persist the minhash artifacts as real tables —
    ``<path>/shingles`` (id, shh) and ``<path>/signatures`` (id, sig) —
    the production replacement for the in-memory localCheckpoint (which
    does not survive executor loss).  Downstream dedup runs read these
    instead of re-tokenizing the corpus; incremental corpora append new
    ids and re-run candidates only.  A one-row ``<path>/params`` sidecar
    records the hash-family parameters so appends can verify they use
    the same family (a seed mismatch is invisible in the data itself —
    same widths, different values — and would silently miss cross-slice
    duplicates)."""
    sh_df, sig_df = shingle_sig_df(df, id_col, text_col, num_hashes, shingle_n, seed)
    sh_df.write.mode("overwrite").parquet(f"{path}/shingles")
    sig_df.write.mode("overwrite").parquet(f"{path}/signatures")
    df.sparkSession.createDataFrame(
        [(num_hashes, shingle_n, seed)],
        "num_hashes int, shingle_n int, seed int",
    ).write.mode("overwrite").parquet(f"{path}/params")


def append_minhash_index(
    df_new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> None:
    """Incremental refresh of a ``write_minhash_index`` table: shingle +
    sign ONLY the new rows with the SAME deterministic hash family and
    append them — O(new) work, the weekly-crawl production shape.
    Unlike the quantizer-backed ANN indexes (IVF-PQ), minhash has no
    trained state, so append == full rebuild on the union EXACTLY, with
    no staleness caveat.

    Safety: the ``<path>/params`` sidecar is validated against the
    passed (num_hashes, shingle_n, seed) — a mismatched hash family is
    indistinguishable in the data (same widths, different values) and
    would silently miss cross-slice duplicates.  Ids already present
    are anti-joined out PER TABLE, so a retried append after a partial
    failure is idempotent and heals a shingles-written/signatures-
    missing crash residue instead of double-counting shingle
    intersections in :func:`jaccard_verify`."""
    spark = df_new.sparkSession
    try:
        stored = spark.read.parquet(f"{path}/params").first()
    except AnalysisException as e:
        # only a MISSING sidecar means a pre-sidecar index; an unreadable
        # one must not switch the hash-family guard off
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        stored = None  # pre-sidecar index: nothing to validate against
    if stored is not None and (
        stored["num_hashes"],
        stored["shingle_n"],
        stored["seed"],
    ) != (num_hashes, shingle_n, seed):
        raise ValueError(
            f"index at {path!r} was built with num_hashes="
            f"{stored['num_hashes']}, shingle_n={stored['shingle_n']}, "
            f"seed={stored['seed']}; append called with "
            f"({num_hashes}, {shingle_n}, {seed}) — appending a "
            "different hash family would silently corrupt dedup output"
        )
    sh_df, sig_df = shingle_sig_df(
        df_new, id_col, text_col, num_hashes, shingle_n, seed
    )
    done_sh = spark.read.parquet(f"{path}/shingles").select("id")
    done_sig = spark.read.parquet(f"{path}/signatures").select("id")
    sh_df.join(done_sh, "id", "left_anti").write.mode("append").parquet(
        f"{path}/shingles"
    )
    sig_df.join(done_sig, "id", "left_anti").write.mode("append").parquet(
        f"{path}/signatures"
    )


def _read_minhash_index(spark, path: str, num_hashes: int) -> tuple[DataFrame, DataFrame]:
    """``(shingles, signatures)`` tables of a ``write_minhash_index``
    index, after checking its signatures are ``num_hashes`` long."""
    sh = spark.read.parquet(f"{path}/shingles")
    sig = spark.read.parquet(f"{path}/signatures")
    # fail fast on a family mismatch: banding a sig array shorter than
    # num_hashes would make the trailing band slices EMPTY — every doc
    # then shares one band key (quadratic blowup, or with the cap in
    # place, silent loss of all candidates)
    first = sig.select(F.size("sig").alias("n")).first()
    if first is not None and first["n"] != num_hashes:
        raise ValueError(
            f"index at {path!r} stores {first['n']}-hash signatures; "
            f"pass num_hashes={first['n']} (got {num_hashes})"
        )
    return sh, sig


def minhash_dedup_pairs_indexed(
    spark,
    path: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """The full near-dup pipeline over a ``write_minhash_index`` table:
    identical semantics to ``minhash_dedup_pairs`` (same hash family for
    the same (num_hashes, seed)), zero text processing — candidates band
    the stored signatures, verify intersects the stored shingle hashes."""
    sh, sig = _read_minhash_index(spark, path, num_hashes)
    cands = minhash_lsh_candidates(
        None,
        num_hashes=num_hashes,
        bands=bands,
        signatures=sig,
        max_bucket_size=max_bucket_size,
    )
    return jaccard_verify(
        None,
        cands,
        threshold=threshold,
        shingles=sh.select("id", F.col("shh").alias("sh")),
    )


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #


def xxhash64_token_hash(tok: Column) -> Column:
    """Default token-hash family: Spark's built-in xxhash64 (fast, JVM)."""
    return F.xxhash64(tok)


def md5_token_hash(tok: Column) -> Column:
    """Cross-engine-reproducible token-hash family: the first 15 hex chars
    (60 bits) of md5, as a non-negative bigint.  md5 hex output is
    identical in Spark and DuckDB, so a simhash built on this family can
    be verified bit-for-bit by an external SQL oracle
    (``CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`` in DuckDB).
    Bits 60-63 are always 0 — the sketch is effectively 60-bit, which
    Hamming comparisons and pigeonhole blocking tolerate unchanged."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def simhash(text: Column, bits: int = 64) -> Column:
    """``bits``-bit SimHash of the token multiset, as bigint.

    Per bit position: majority vote of token-hash bits; one term per bit,
    unrolled at plan-build time and summed (``simhash_from_hashes``).
    Pure expression — no UDF.
    """
    return simhash_from_hashes(F.transform(tokenize(text), lambda t: F.xxhash64(t)), bits)


def simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """SimHash from a (possibly pre-materialized) token-hash array column —
    callers doing pair generation should materialize the array once and
    build the hash from the stored column (see ``simhash_neardup_pairs``)."""
    n = F.size(hashes)
    # unrolled at plan-build time (shift amounts must be literals); each
    # bit contributes an INDEPENDENT term and the disjoint terms are summed
    # — chaining when(...).otherwise(acc) would double the tree per bit.
    # Bit 63 is the (negative) sign-bit mask, added last.
    def _ones(mask: int):
        # single-arg lambda: a 2-arg lambda would be (element, index) to F.filter
        return F.size(F.filter(hashes, lambda h: h.bitwiseAND(F.lit(mask)) != 0))

    terms = []
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)
        ones = _ones(mask)
        terms.append(
            F.when((n > 0) & (ones * 2 >= n), F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def simhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_expr=xxhash64_token_hash,
    hash_distinct_first: bool = False,
) -> DataFrame:
    """(id, sh bigint) SimHash signatures, materialized.

    ``hash_expr`` picks the token-hash family (default xxhash64; pass
    ``md5_token_hash`` for a family an external SQL engine can replicate
    exactly).  Token hashing stays JVM-side; the 64-bit majority vote
    runs as one vectorized numpy pass per Arrow batch — semantically
    identical to ``simhash_from_hashes`` (cross-checked in tests) but
    faster than both the interpreted higher-order expression and a
    64-sum-aggregation form (measured).

    ``hash_distinct_first=True`` hashes only the DISTINCT token
    vocabulary and broadcast-joins the values back over the exploded
    tokens — the right shape for expensive hash families (md5+conv costs
    ~30µs/token; a corpus has ~100× fewer distinct tokens than token
    occurrences).  Token order is irrelevant to the majority vote, so the
    regrouped multiset is equivalent.  With this path, zero-token
    documents produce no signature row (vs sh=0 in the array path) —
    matching the external-oracle convention that empty docs have no
    sketch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def _simhash(hs):
        out = []
        shifts = np.arange(64, dtype=np.int64)
        for h in hs:
            if h is None or len(h) == 0:
                out.append(0)
                continue
            hv = np.asarray(h, dtype=np.int64)
            # arithmetic >> keeps bit 63 consistent with the mask test
            bits = (hv[:, None] >> shifts[None, :]) & 1
            ones = bits.sum(axis=0)
            keep = 2 * ones >= len(hv)
            v = 0
            for b in np.nonzero(keep)[0]:
                v |= 1 << int(b)
            if v >= 1 << 63:
                v -= 1 << 64
            out.append(v)
        return pd.Series(out)

    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    # shuffle RAW rows first — the token pass must run on all cores, not
    # in the source's (often single) input partition
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")).repartition(
        n_part
    )
    if hash_distinct_first:
        tokrows = base.select("id", F.explode(tokenize(F.col("__t"))).alias("tok"))
        vocab = tokrows.select("tok").distinct().select(
            "tok", hash_expr(F.col("tok")).alias("h")
        )
        hashed = (
            tokrows.join(F.broadcast(vocab), "tok")
            .groupBy("id")
            .agg(F.collect_list("h").alias("hs"))
        )
    else:
        hashed = base.select(
            "id",
            F.transform(tokenize(F.col("__t")), lambda t: hash_expr(t)).alias("hs"),
        ).where(F.size("hs") > 0)
        # size(hs) > 0 also rejects NULL text (size(NULL) = NULL → filter
        # drops); both paths agree that token-less docs have NO sketch —
        # sh=0 rows would otherwise pair with each other at Hamming 0 and
        # diverge from the external-oracle convention
    # EAGER checkpoint: the chunk-blocked pair join reads this on both
    # self-join sides; lazy blocks would race and recompute the pass
    return hashed.select("id", _simhash("hs").alias("sh")).localCheckpoint(eager=True)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_expr=xxhash64_token_hash,
    hash_distinct_first: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into ``blocks`` chunks; any
    pair within distance ``max_hamming < blocks`` must agree on ≥1 chunk →
    self-join per chunk (shuffle on 16-bit keys), verify with bit_count(xor).
    """
    if max_hamming >= blocks:
        # pigeonhole guarantee needs max_hamming < blocks: with k >= blocks
        # differing bits spread one-per-chunk, no chunk agrees and the pair
        # is silently never generated
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < blocks ({blocks}) for "
            "the pigeonhole candidate guarantee"
        )
    sh = simhash_signatures_df(
        df, id_col, text_col, hash_expr=hash_expr,
        hash_distinct_first=hash_distinct_first,
    )
    return hamming_neardup_pairs(sh, max_hamming=max_hamming, blocks=blocks)


def hamming_neardup_pairs(
    sig_df: DataFrame,
    max_hamming: int = 3,
    blocks: int = 4,
    id_col: str = "id",
    sig_col: str = "sh",
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(sig) ≤ ``max_hamming``
    over ANY (id, 64-bit signature) frame — the pigeonhole-blocked
    self-join :func:`simhash_neardup_pairs` uses, factored so other
    64-bit fingerprint families (perceptual image dHash/pHash —
    multimodal.py extract_image_phash) band through the same machinery.
    Split the hash into ``blocks`` chunks; any pair within distance
    ``max_hamming < blocks`` must agree on ≥1 chunk → self-join per
    chunk (shuffle on 16-bit keys), verify with bit_count(xor)."""
    if max_hamming >= blocks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < blocks ({blocks}) for "
            "the pigeonhole candidate guarantee"
        )
    width = 64 // blocks
    sh = sig_df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftrightunsigned(F.col("sh"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk"),
            )
            for b in range(blocks)
        ]
    )
    chunked = sh.select("id", "sh", F.explode(chunks).alias("bc")).select(
        "id", "sh", "bc.blk", "bc.chunk"
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------- #
# near-dup cluster resolution (connected components)
# --------------------------------------------------------------------- #


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) — connected components of the near-dup pair graph,
    component label = min doc id in the component.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in
    O(graph diameter) rounds.  Near-dup graphs from verified LSH pairs
    are near-cliques, so diameter is tiny (2-3 rounds typical).  Each
    round is one key-shuffle join + partial-min aggregation, with the
    frontier checkpointed to truncate lineage — the standard scalable
    Spark connected-components shape (no driver-side graph, no
    single-machine union-find).  Only nodes appearing in ≥1 pair are
    labeled (singletons are their own trivial component)."""
    e = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionAll(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
        # invariant edge table pre-partitioned on the propagation join
        # key: the checkpoint keeps the layout, so each round shuffles
        # only the label table (same trick as graph.py pagerank/LPA)
        .repartition(F.col("d"))
        .localCheckpoint(eager=True)
    )
    cur = (
        e.groupBy("s")
        .agg(F.min("d").alias("m"))
        .select(F.col("s").alias("id"), F.least("s", "m").alias("comp"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(max_iter):
        # ONE join + ONE keyed min per round (r12 optimization round —
        # the shortest_paths/harmonic union-relax shape): the node's own
        # label rides into the min aggregation as union rows instead of
        # left-joining the propagated minima back onto cur.  Exact
        # equivalence: min(own ∪ neighbor labels) == least(own,
        # min(neighbors)), the edge table is symmetric so cur's node set
        # is preserved, and integer min exposes no float order — labels
        # are byte-identical.  Deletes the second per-round join (and
        # its exchange) from the loop.
        new = (
            e.alias("e")
            .join(cur.alias("l"), F.col("e.d") == F.col("l.id"))
            .select(F.col("e.s").alias("id"), F.col("l.comp").alias("comp"))
            .unionByName(cur)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            # EAGER, deliberately (r12 A/B): folding this job into the
            # convergence-sum collect (eager=False) dropped 6 jobs but
            # ran 4.2 s → 7.2 s on q_semantic_clusters — the lazy
            # LogicalRDD loses size statistics, so the next round's
            # propagation join falls off broadcast.  Measured, reverted.
            .localCheckpoint(eager=True)
        )
        # convergence check via the label-sum invariant: labels only ever
        # DECREASE (least/min everywhere), so the total is strictly
        # monotone and a stable sum == no node changed — one aggregate on
        # the just-materialized frame instead of a join + count per
        # round.  decimal(38,0) keeps the sum exact at any id scale
        # (bigint would wrap, double would round — both could fake
        # convergence).
        ssum = new.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("t")
        ).collect()[0]["t"]
        cur = new
        if ssum == prev_sum:
            break
        prev_sum = ssum
    return cur


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    rep_by: str | None = None,
) -> DataFrame:
    """Corpus minus near-duplicates: from every connected component of
    ``pairs`` keep ONE representative; docs in no pair survive untouched.
    One components run + a broadcast-able anti-join of the (tiny) victim
    list.

    ``rep_by=None`` elects the min-id member (pure graph policy, needs no
    corpus columns).  ``rep_by="n_chars"`` (or any orderable column)
    elects the member maximizing that column — the curation policy that
    keeps the LONGEST / highest-quality variant of each near-dup cluster
    instead of an arbitrary one.  Ties break to the smaller id via a
    (score, -id) max_by struct, so the election is deterministic; the
    extra cost is one component-keyed join of the (small) member list
    against the winner per component."""
    comps = neardup_components(pairs, id_a, id_b)
    if rep_by is None:
        victims = comps.where(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    else:
        scored = comps.join(
            df.select(F.col(id_col).alias("id"), F.col(rep_by).alias("__s")),
            "id",
        )
        winners = scored.groupBy("comp").agg(
            F.max_by(
                "id", F.struct(F.col("__s"), (-F.col("id")).alias("__nid"))
            ).alias("__keep")
        )
        victims = (
            scored.join(winners, "comp")
            .where(F.col("id") != F.col("__keep"))
            .select(F.col("id").alias(id_col))
        )
    return df.join(victims, id_col, "left_anti")


# --------------------------------------------------------------------- #
# exact n-gram Jaccard (oracle-friendly: pure relational form)
# --------------------------------------------------------------------- #


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with token-set Jaccard ≥ threshold, computed relationally
    (explode distinct tokens → self-join on token → count).  Exact but
    O(pairs-sharing-a-token) — the baseline LSH prunes; kept as the
    SQL-expressible oracle twin and for verification at sample scale."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("tok"),
    ).localCheckpoint(eager=False)  # referenced three times (a, b, sizes)
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
    stride: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection — the span-level member of
    the dedup family (exact doc ⊃ near-dup ⊃ repeated substring, after
    Lee et al.'s "Deduplicating Training Data Makes Language Models
    Better"): fingerprint every ``span_tokens``-token window at ``stride``
    and report fingerprints seen in ≥ ``min_docs`` distinct documents.

    Output: (span_fp, n_docs, n_occurrences).  Span fingerprints are md5
    of the space-joined window (engine-portable); window building is
    in-row (sequence+slice, no explode until the fingerprint column), so
    the single shuffle carries (fp, id) pairs — fixed-width keys, count
    bounded by tokens/stride per document.  Callers typically join the
    flagged fingerprints back to cut or down-weight the spans."""
    # tokenize ONCE into a multi-referenced column — inlined in the
    # transform lambda it would re-tokenize per span window under
    # interpreted higher-order eval (see winnow_fingerprints)
    tok_df = _spread(df).select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.when(
        n >= span_tokens,
        F.sequence(F.lit(1), n - span_tokens + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    fps = F.transform(
        starts,
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, span_tokens))),
    )
    spans = tok_df.select("id", F.explode(fps).alias("span_fp"))
    return (
        spans.groupBy("span_fp")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard pairs ≥ ``threshold`` via prefix filtering
    (the PPJoin family) — the third near-dup algorithm next to
    MinHash-LSH (probabilistic candidates) and SimHash (Hamming
    blocking), and unlike those it is exact WITHOUT an all-pairs join.

    Prefix principle: sort each doc's distinct tokens rarest-first (by
    corpus document frequency); two sets with Jaccard ≥ t MUST share a
    token within each one's first ``|T| - ceil(t*|T|) + 1`` tokens, so
    only prefix tokens are exploded into the candidate self-join.
    Rare-first ordering makes those prefixes nearly unique, collapsing
    candidate volume; stopword-grade tokens never enter the join.

    Stages (all key shuffles, map-side combined): token df counts →
    per-doc rarest-first sort (in-row) → prefix explode + self-join on
    the token → exact intersection counts computed ONLY for candidate
    pairs (the token join is semi-restricted by the candidate set) →
    Jaccard filter.  Completeness is a theorem, not a parameter tune;
    pytest checks it against brute force.
    """
    grams = (
        tokenize(F.col(text_col))
        if ngram == 1
        else word_shingles(F.col(text_col), ngram)
    )
    toks = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(grams)).alias("tok"),
        )
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # rarest-first order per doc, rebuilt in-row: (df, tok) sort keys
    ordered = (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ).alias("ts")
        )
        .select(
            "id",
            "ts",
            F.size("ts").alias("sz"),
        )
    )
    t = float(threshold)
    prefix_len = F.size("ts") - F.ceil(F.size("ts") * F.lit(t)).cast("int") + 1
    prefixes = ordered.select(
        "id", "sz", F.explode(F.slice("ts", 1, prefix_len)).alias("tok")
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        # size filter: |a∩b| <= min size, so jaccard <= min/max — prune
        # before the intersection join
        .where(
            F.least("sz_a", "sz_b")
            >= F.ceil(F.greatest("sz_a", "sz_b") * F.lit(t)).cast("int")
        )
        .distinct()
    )
    # exact intersections, computed only for candidate pairs
    ta = toks.select(F.col("id").alias("id_a"), "tok")
    tb = toks.select(F.col("id").alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    ).cast("double")
    return inter.where(jac >= t).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Global line-level exact dedup (the RefinedWeb/Dolma corpus step):
    every duplicated line keeps only its FIRST occurrence — minimum
    (doc, position) across the whole corpus — later repeats are dropped,
    and each document is reassembled in its original line order.

    Returns (id, text_dedup, n_lines_kept, n_lines_total); documents with
    no non-empty lines produce no row (they have nothing to dedup).

    Scale shape: posexplode is scan-stage; first-occurrence election is a
    window over the line's md5 fingerprint (ONE 16-byte-keyed shuffle —
    the line text rides along once, never joins back); reassembly is one
    groupBy on the doc id with an in-row sort of (pos, line) structs.  No
    driver state, no distinct, no self-join; at 100 TB the fingerprint
    shuffle is the cost and it is proportional to corpus text size, same
    as any exact-dedup pass.  Reference has no multi-document text ops
    (extension per SURVEY §2; cf. exact dedup at dedup_exact)."""
    from pyspark.sql import Window

    lines = F.filter(
        F.transform(F.split(F.col(text_col), sep), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    exploded = df.select(
        F.col(id_col).alias("id"), F.posexplode(lines).alias("pos", "line")
    )
    w = Window.partitionBy(F.md5(F.col("line"))).orderBy("id", "pos")
    ranked = exploded.select(
        "id", "pos", "line", F.row_number().over(w).alias("__rn")
    )
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("pos"), F.col("line"))
    )  # NULL otherwise — collect_list skips NULLs
    return (
        ranked.groupBy("id")
        .agg(
            F.sort_array(F.collect_list(kept_struct)).alias("__kept"),
            F.count("*").alias("n_lines_total"),
        )
        .select(
            "id",
            F.concat_ws(
                sep, F.transform(F.col("__kept"), lambda s: s["line"])
            ).alias("text_dedup"),
            F.size("__kept").cast("long").alias("n_lines_kept"),
            "n_lines_total",
        )
    )


def minhash_probe_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dups of NEW documents against a persisted corpus index
    (``write_minhash_index``): bipartite probe — new docs pair only with
    the corpus, never with each other.  Returns (new_id, corpus_id,
    jaccard ≥ threshold); a new doc whose id already exists in the index
    never matches itself.

    This is the ingest-time dedup shape: the corpus is NOT re-tokenized
    (its hashes/signatures are read from the index tables), and with a
    batch-sized probe side every join is a broadcast of probe data
    against the index scan — the corpus never shuffles.  The hash family
    must match the one the index was written with (same num_hashes /
    shingle_n / seed), which write_minhash_index guarantees for its own
    defaults; ``_read_minhash_index`` fails fast on a mismatch."""
    rows = _band_rows(num_hashes, bands)
    idx_sh, idx_sig = _read_minhash_index(spark, path, num_hashes)
    probe_sh, probe_sig = shingle_sig_df(
        new_docs, id_col, text_col, num_hashes, shingle_n, seed
    )
    cands = (
        band_keys(idx_sig, bands, rows)
        .join(
            F.broadcast(
                band_keys(probe_sig, bands, rows)
                .withColumnRenamed("id", "new_id")
            ),
            ["band", "key"],
        )
        .where(F.col("new_id") != F.col("id"))
        .select("new_id", F.col("id").alias("corpus_id"))
        .distinct()
    )
    out = (
        cands.join(
            F.broadcast(
                probe_sh.select(
                    F.col("id").alias("new_id"), F.col("shh").alias("sh_a")
                )
            ),
            "new_id",
        )
        .join(
            idx_sh.select(
                F.col("id").alias("corpus_id"), F.col("shh").alias("sh_b")
            ),
            "corpus_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("jaccard", 4).alias("jaccard"))
    )
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric near-SUBSET pairs: token-set containment
    ``|A ∩ B| / |A|`` ≥ threshold, emitted as (contained_id,
    container_id) — the duplication Jaccard MISSES: a short document
    pasted inside a much longer one has tiny Jaccard (union is the big
    doc) but containment ≈ 1.

    Relational form like ``ngram_jaccard_pairs`` (explode distinct
    tokens → token self-join → count), checking BOTH directions of each
    unordered pair from the same intersection count; exact, positioned
    for candidate verification at sample scale — at corpus scale prune
    candidates first (MinHash LSH catches high-containment pairs whose
    sizes are within the band design's reach; for extreme size skew use
    ``repeated_spans``, which is containment's scalable span-level
    cousin)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("tok"),
    ).localCheckpoint(eager=False)
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    both = (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
                "sz", "sz_a"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "id_b",
        )
    )
    # one directed row per satisfied direction (a ⊆ b and/or b ⊆ a)
    dirs = both.select(
        "id_a", "id_b", "inter", "sz_a", "sz_b",
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    (F.col("inter") / F.col("sz_a")).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    (F.col("inter") / F.col("sz_b")).alias("containment"),
                ),
            )
        ).alias("d"),
    )
    return (
        dirs.where(F.col("d.containment") >= threshold)
        .select(
            F.col("d.contained_id").alias("contained_id"),
            F.col("d.container_id").alias("container_id"),
            F.round("d.containment", 4).alias("containment"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int | None = None,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    many distinct content fingerprints they SHARE, with each side's
    distinct total and the overlap share (shared / smaller side) — the
    corpus-health readout that catches one feed republishing another.

    ``ngram=None`` fingerprints whole documents (exact republication);
    ``ngram=k`` fingerprints word k-gram windows instead, catching
    PARTIAL cross-source reuse (quotes, templates, syndicated spans)
    that whole-doc hashing misses — same granularity dial as
    ``ngram_contamination``.

    One fingerprint pass → distinct (source, fp) rows → fp-keyed
    self-join (each fp joins only its own tiny source list) → pair
    counts.  The shuffle carries 8–16-byte digests; the output is
    |sources|² rows.  Never a text-level comparison."""
    base = _spread(df.select(F.col(group_col), F.col(text_col)))
    if ngram is None:
        fp = F.md5(normalize_text(F.col(text_col)))
        sfp = base.select(F.col(group_col).alias("src"), fp.alias("fp")).distinct()
    else:
        # tokenize ONCE into a multi-referenced column — the inline
        # expression would re-tokenize per gram under interpreted
        # higher-order eval (see winnow_fingerprints for the trap)
        tok_base = base.select(
            F.col(group_col).alias("src"),
            tokenize(F.col(text_col)).alias("__toks"),
        )
        toks = F.col("__toks")
        grams = F.when(
            F.size(toks) >= ngram,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (ngram - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(toks, i, ngram))
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        sfp = (
            tok_base.select(
                "src",
                F.explode(F.array_distinct(grams)).alias("fp"),
            )
            .distinct()
        )
    totals = sfp.groupBy("src").agg(F.count("*").alias("n_fp"))
    a, b = sfp.alias("a"), sfp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    ta = totals.select(F.col("src").alias("source_a"), F.col("n_fp").alias("n_a"))
    tb = totals.select(F.col("src").alias("source_b"), F.col("n_fp").alias("n_b"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared") / F.least("n_a", "n_b"), 6
            ).alias("overlap"),
        )
    )


def novelty_counts(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    order_col: str = "doc_id",
) -> DataFrame:
    """Per-group corpus novelty: how many of a group's documents are the
    FIRST occurrence of their content fingerprint in global ``order_col``
    order (ingestion order, typically) vs repeats of something already
    seen anywhere in the corpus.

    This is the curation question "which crawl sources contribute new
    content and which mostly re-serve what earlier sources already
    provided" — the attribution view that plain dedup rate
    (per-source distinct/total) cannot give, because it charges the
    duplicate to the LATER source.

    Execution: one window shuffle keyed on the 16-byte md5 fingerprint
    (first-occurrence flag via min-order comparison — a mergeable MIN,
    not a sort rank), then a tiny per-group count aggregation.  Output
    is exact integer counts, hash-stable across engines."""
    from kevinlang_spark.operators.text import fingerprint

    w = Window.partitionBy(fingerprint(F.col(text_col)))
    is_first = (F.col(order_col) == F.min(order_col).over(w)).cast("long")
    return (
        df.select(group_col, F.col(order_col), is_first.alias("__nf"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nf").alias("n_first"),
        )
    )


# --------------------------------------------------------------------- #
# sorted-neighborhood blocking
# --------------------------------------------------------------------- #


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_len: int = 24,
    bucket_prefix: int = 2,
    window: int = 5,
    max_dist: int = 6,
) -> DataFrame:
    """Sorted-neighborhood near-duplicate candidates (Hernández &
    Stolfo 1995), the classic entity-resolution alternative to LSH
    blocking: sort records by a normalized key, compare only records
    within ``window`` positions, verify with edit distance.

    Scale shape: records bucket by the first ``bucket_prefix`` key
    chars; ranks come from a BUCKET-partitioned window (never a global
    single-partition sort).  The neighbor join never self-joins whole
    buckets — each row lands in rank-block ``rank div window``, and the
    probe side is additionally copied one block DOWN (so a row is
    visible to the block preceding it), making the join key
    (bucket, block) with every join group ≤ 2·window probe rows: total
    cost is one rank shuffle + one bounded block join, O(n·window)
    comparisons at any corpus size.  A rank gap ≤ window spans at most
    one block boundary because block width == window, so the two copies
    cover every in-window pair exactly.  Bucket boundaries are blocking
    boundaries (standard SN semantics; multi-pass with a second key
    raises recall).

    Returns (id_a, id_b, dist) for pairs with key edit distance ≤
    ``max_dist``, id_a < id_b.
    """
    if window < 1 or bucket_prefix < 1:
        raise ValueError(
            f"window and bucket_prefix must be >= 1 "
            f"(got window={window}, bucket_prefix={bucket_prefix})"
        )
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.substring(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
            1,
            key_len,
        ).alias("key"),
    ).where(F.length("key") > 0)
    keyed = keyed.withColumn("bucket", F.substring("key", 1, bucket_prefix))
    w = Window.partitionBy("bucket").orderBy("key", "id")
    ranked = keyed.withColumn("rank", F.row_number().over(w))
    # blk feeds the a-side AND both probe copies — materialize the rank
    # window once instead of running it three times
    blk = ranked.withColumn(
        "block", ((F.col("rank") - 1) / window).cast("long")
    ).localCheckpoint(eager=True)
    probe = blk.unionByName(blk.withColumn("block", F.col("block") - 1))
    a, b = blk.alias("a"), probe.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.block") == F.col("b.block")),
        )
        .where(
            (F.col("b.rank") > F.col("a.rank"))
            & (F.col("b.rank") - F.col("a.rank") <= window)
        )
        .where(F.levenshtein(F.col("a.key"), F.col("b.key")) <= max_dist)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.levenshtein(F.col("a.key"), F.col("b.key")).alias("dist"),
        )
        .distinct()
    )


def repeated_span_stats(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide repeated-substring audit (the n-gram-anchored form of
    Lee et al. 2022's exact-substring dedup): for every document, the
    fraction of its tokens covered by some word ``n``-gram that occurs
    at least ``min_count`` times in the WHOLE corpus — the "how much of
    this document is boilerplate copied from elsewhere" measure that
    the suffix-array method computes exactly and this computes at
    n-gram resolution, one keyed shuffle instead of a global suffix
    sort.

    Shape: positions ride the gram explode (posexplode — scan stage);
    duplicated grams come from ONE gram-key count (8-byte xxhash keys,
    same family as minhash/contamination); hit positions rejoin on the
    gram key and coverage is a per-document window pass — equal-length
    intervals merge by ``min(n, pos - lag(pos))``, so no collect_list
    of positions ever materializes a document's gram set in one row.
    The DuckDB oracle runs the identical algebra on gram STRINGS (gram
    identity matches up to xxhash collisions, the documented
    contamination-oracle equivalence).  Returns
    (id, n_tokens, dup_tokens, n_spans, dup_frac) for docs with ≥1
    token; dup_frac rounded 6dp.
    """
    if n < 1 or min_count < 2:
        raise ValueError(
            f"need n >= 1 and min_count >= 2 (got n={n}, min_count={min_count})"
        )
    sp = _spread(df)
    base = (
        sp.select(
            F.col(id_col).alias("id"),
            token_count(F.col(text_col)).alias("n_tok"),
            shingle_hashes(F.col(text_col), n).alias("grams"),
        )
        .where(F.col("n_tok") > 0)
        # base feeds the gram explode (read twice: dup-count + hit
        # rejoin) AND the final per-doc join — without this the
        # interpreted shingle-hash fold recomputes THREE times
        # (measured sf0.1: 11.9s → 5.4s warm).  The materialized table
        # is (id, n_tok, grams) — the shingle table every MinHash-style
        # pipeline persists once at any scale.
        .localCheckpoint(eager=True)
    )
    sh = base.select(
        "id", F.posexplode("grams").alias("pos", "g")
    )
    dup = (
        sh.groupBy("g")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
        .select("g")
    )
    hits = sh.join(dup, "g").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    delta = F.col("pos") - F.lag("pos").over(w)
    per_hit = hits.select(
        "id",
        # Spark's least() SKIPS nulls, so the first hit (null lag) must
        # be forced to NULL explicitly — its interval is the "+ n" term
        # in the aggregate, not a per-hit contribution
        F.when(delta.isNull(), F.lit(None))
        .otherwise(F.least(F.lit(n), delta))
        .alias("cov"),
        (delta > n).cast("int").alias("brk"),
    )
    agg = per_hit.groupBy("id").agg(
        (F.coalesce(F.sum("cov"), F.lit(0)) + n).alias("raw_cov"),
        (F.coalesce(F.sum("brk"), F.lit(0)) + 1).cast("int").alias("n_spans"),
    )
    return (
        base.select("id", "n_tok")
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tok").cast("bigint").alias("n_tokens"),
            # cap at the doc's token count: a shorter-than-n doc emits one
            # whole-doc gram whose nominal interval length n overshoots
            F.least(
                F.coalesce(F.col("raw_cov"), F.lit(0)), F.col("n_tok")
            )
            .cast("bigint")
            .alias("dup_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.round(
                F.least(
                    F.coalesce(F.col("raw_cov"), F.lit(0)), F.col("n_tok")
                )
                / F.col("n_tok"),
                6,
            ).alias("dup_frac"),
        )
    )
