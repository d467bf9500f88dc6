"""Similarity search over embedding columns (``array<float>``).

Two tiers, same pattern as dedup:

- **brute-force cosine top-k** — the exact baseline: per-row cosine as a
  codegen expression + TakeOrderedAndProject.  One pass, no shuffle of
  vectors; correct at any scale where a full scan is acceptable.
- **LSH-bucketed ANN (random hyperplanes)** — the scale path: a
  ``planes``-bit signature buckets vectors; a query probes its own bucket
  plus ``probe_hamming`` neighbors, scanning only matching partitions.
  Signatures come from deterministic seeded hyperplanes (literal arrays
  broadcast with the plan), so bucket assignment is stable across runs.

An IVF variant (k-means coarse quantizer) would slot in the same way —
assign→bucket→probe — but the hyperplane LSH needs no training job, so
it ships first.

Embedding-cosine near-dup (all-pairs above a threshold) reuses the same
bucketing: pairs are generated within buckets only.
"""

from __future__ import annotations

import itertools
import math
import random
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kevinlang_spark.functions.vectors import cosine_similarity, dot, l2_norm


def _query_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _round_half_up(x: float, nd: int = 6) -> float:
    """Driver-side rounding with Spark's ``F.round`` semantics —
    HALF_UP over the SHORTEST DECIMAL RENDERING of the double
    (``BigDecimal(Double.toString(x))``), hence ``Decimal(repr(x))``,
    NOT ``Decimal(x)``: the exact binary value of a decimal-looking
    half boundary like 5.5e-6 sits just below the half, so converting
    the raw double would round DOWN where Spark rounds UP.  Python's
    builtin ``round`` is wrong twice over (banker's + binary)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``.

    Emits (id, sim) sorted desc with ``id`` as a deterministic tiebreak;
    the norm of the query is folded into a constant, the row norm is one
    aggregate over the array — everything stays in whole-stage codegen and
    the only cross-partition work is the top-k merge.
    """
    qn = math.sqrt(sum(v * v for v in query))
    if qn == 0:
        raise ValueError("cosine_topk: query vector has zero norm")
    q = _query_lit(query)
    rn = l2_norm(F.col(vec_col))
    # zero-norm rows → NULL sim (sorted last), not an ANSI divide-by-zero
    sim = F.when(rn == 0, F.lit(None)).otherwise(
        dot(F.col(vec_col), q) / (rn * F.lit(qn))
    )
    # rank on the RAW similarity (rounding before ranking could flip
    # membership at the k boundary vs an exact-ranking oracle); round only
    # the emitted value
    return (
        df.select(F.col(id_col), sim.alias("__rawsim"))
        .orderBy(F.col("__rawsim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round("__rawsim", 6).alias("sim"))
    )


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """int bucket id: bit i = sign(vec · plane_i)."""
    sig = F.lit(0)
    for i, p in enumerate(planes):
        sig = sig + F.when(dot(vec, _query_lit(p)) >= 0, F.lit(1 << i)).otherwise(0)
    return sig


def _probe_buckets(
    query: list[float], planes: list[list[float]], probe_hamming: int
) -> list[int]:
    """The query's hyperplane bucket, then every bucket within
    ``probe_hamming`` bit flips of it (multiprobe), computed driver-side."""
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) >= 0:
            qsig |= 1 << i
    probe = [qsig]
    for n_flips in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(len(planes)), n_flips):
            probe.append(qsig ^ sum(1 << b for b in bits))
    return probe


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: scan only rows whose hyperplane bucket is within
    ``probe_hamming`` bits of the query's bucket.

    With 8 planes and 1-bit multiprobe this scans ~9/256 of the data in
    expectation.  At cluster scale the table would be WRITTEN bucketed by
    signature (``partitionBy("bucket")``) so probing prunes whole files —
    here the signature is computed on the fly.
    """
    planes = _planes(len(query), n_planes, seed)
    probe = _probe_buckets(query, planes, probe_hamming)
    bucketed = df.withColumn("__bucket", hyperplane_signature(F.col(vec_col), planes))
    cand = bucketed.where(F.col("__bucket").isin(probe))
    return cosine_topk(cand, query, vec_col, id_col, k)


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    seed: int = 11,
    max_iter: int = 10,
):
    """Train an IVF coarse quantizer (k-means over the vectors) and return
    ``(assigned_df, centroids)`` where ``assigned_df`` carries a
    ``__cell`` column and ``centroids`` is the local list of centers.

    Uses ``pyspark.ml`` KMeans — distributed Lloyd iterations; the model
    (nlist × dim floats) is tiny and lives happily on the driver, like a
    FAISS coarse quantizer.  At warehouse scale the assigned table is
    written ``partitionBy("__cell")`` so probes prune whole files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=nlist, seed=seed, maxIter=max_iter, featuresCol="__v", predictionCol="__cell")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF probe: rank cells by centroid distance to the query, scan only
    the ``nprobe`` nearest cells, brute-force cosine within them.

    Expected scan fraction ≈ nprobe/nlist; with a cell-partitioned table
    the pruning happens at the file index.
    """
    import math as _m

    def dist(c):
        return sum((a - b) ** 2 for a, b in zip(c, query))

    order = sorted(range(len(centroids)), key=lambda i: dist(centroids[i]))
    probe = order[:nprobe]
    cand = assigned.where(F.col("__cell").isin(probe))
    return cosine_topk(cand, query, vec_col, id_col, k)


def build_lsh_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> None:
    """Persist the hyperplane-LSH index as a BUCKET-PARTITIONED parquet
    table (``partitionBy("bucket")``) — the executable 100 TB form of
    ``ann_topk_lsh``: each bucket is its own directory, so a probe prunes
    whole files at the file index before any IO.  The hyperplane family is
    derived from ``(dim, n_planes, seed)`` alone, so a reader passing the
    same parameters reproduces the query-side bucket ids with no stored
    model."""
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
        if first is None:
            raise ValueError("build_lsh_index: no non-empty vectors")
        dim = first["d"]
    planes = _planes(dim, n_planes, seed)
    df.withColumn("bucket", hyperplane_signature(F.col(vec_col), planes)).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def append_lsh_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> None:
    """Incrementally extend a :func:`build_lsh_index` table: the
    hyperplane family is derived from ``(dim, n_planes, seed)`` alone —
    no trained state — so appending new rows with the SAME parameters is
    exactly equivalent to rebuilding on the union (unlike IVF-PQ, where
    frozen codebooks drift from appended data).  One pass over the new
    rows; files land inside existing bucket directories, so probe-time
    partition pruning survives."""
    if dim is None:
        first = (
            df_new.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
        )
        if first is None:
            raise ValueError("append_lsh_index: no non-empty vectors")
        dim = first["d"]
    planes = _planes(dim, n_planes, seed)
    df_new.withColumn(
        "bucket", hyperplane_signature(F.col(vec_col), planes)
    ).write.mode("append").partitionBy("bucket").parquet(path)


def ann_topk_lsh_indexed(
    spark,
    path: str,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Probe a ``build_lsh_index`` table: compute the query's bucket and
    its multiprobe neighbors driver-side, then read ONLY those partition
    directories (partition pruning — the scan never touches other
    buckets' files)."""
    probe = _probe_buckets(query, _planes(len(query), n_planes, seed), probe_hamming)
    cand = spark.read.parquet(path).where(F.col("bucket").isin(probe))
    return cosine_topk(cand, query, vec_col, id_col, k)


def build_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    seed: int = 11,
    max_iter: int = 10,
) -> None:
    """Persist an IVF index: the cell-assigned vectors as a
    CELL-PARTITIONED parquet table plus the (tiny) centroid table at
    ``<path>/_centroids`` — probes rank centroids driver-side and read
    only the chosen cells' directories."""
    assigned, centroids = ivf_index(df, vec_col, id_col, nlist, seed, max_iter)
    assigned.withColumnRenamed("__cell", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/vectors")
    cent_rows = [(i, c) for i, c in enumerate(centroids)]
    df.sparkSession.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def ann_topk_ivf_indexed(
    spark,
    path: str,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a ``build_ivf_index`` table: rank stored centroids by
    distance to the query (driver-side — the centroid table is nlist
    rows), then scan only the ``nprobe`` nearest cells' partitions."""
    cents = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(f"{path}/_centroids").collect()
    }

    def dist(c):
        return sum((a - b) ** 2 for a, b in zip(c, query))

    probe = sorted(cents, key=lambda i: dist(cents[i]))[:nprobe]
    cand = spark.read.parquet(f"{path}/vectors").where(F.col("cell").isin(probe))
    return cosine_topk(cand, query, vec_col, id_col, k)


def knn_join(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "vec_id",
    q_vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for EVERY query vector (batch k-NN join).

    ``queries`` is small by construction (a probe set, not the corpus) —
    it broadcasts, so scoring is a map-side nested-loop inside the scan
    stage with no corpus shuffle; only the ranked candidates move.  Pure
    codegen cosine (same expression as ``cosine_topk``); ranking on the
    raw similarity, ids as the deterministic tiebreak.

    The per-query ranking is a window partitioned by query id, which
    concentrates each query's N scored rows on one reducer — fine for
    probe-set sizes; for huge corpora use ``knn_join_batched``, which
    pre-reduces to k rows per (query, batch) before any shuffle.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(q_id_col).alias("qid"), F.col(q_vec_col).alias("__qv")
    )
    sim = cosine_similarity(F.col(vec_col), F.col("__qv"))
    w = Window.partitionBy("qid").orderBy(
        F.col("__rawsim").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        df.join(F.broadcast(q))
        .select("qid", F.col(id_col), sim.alias("__rawsim"))
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .select(
            "qid",
            F.col(id_col),
            F.round("__rawsim", 6).alias("sim"),
            F.col("__rank").alias("rank"),
        )
    )


def knn_join_batched(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scale form of ``knn_join``: vectorized numpy scoring with per-batch
    top-k pre-reduction.

    ``mapInPandas`` scores each Arrow batch against the whole query
    matrix in one BLAS matmul and emits only each query's local top-k —
    so the shuffle into the final exact merge carries ≤ Q·k rows per
    batch instead of Q·N.  The query set rides the closure (it is a
    probe set: Q·dim floats), exactly like a FAISS query batch.  Output
    matches ``knn_join`` up to float summation order (ties broken by id
    both ways)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    qids = [int(q) for q, _ in queries]
    qm = np.asarray([v for _, v in queries], dtype=np.float64)  # (Q, dim)
    qnorm = np.linalg.norm(qm, axis=1)
    if (qnorm == 0).any():
        raise ValueError("knn_join_batched: zero-norm query vector")

    def score(batches):
        for pdf in batches:
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            ids = pdf[id_col].to_numpy()
            norms = np.linalg.norm(vecs, axis=1)
            ok = norms > 0
            sims = (vecs @ qm.T) / np.where(ok, norms, 1.0)[:, None] / qnorm[None, :]
            out_q, out_id, out_sim = [], [], []
            for j, qid in enumerate(qids):
                col = np.where(ok, sims[:, j], -np.inf)
                top = min(k, len(col))
                # stable argsort on (-sim, id): id ascending breaks ties
                order = np.lexsort((ids, -col))[:top]
                keep = order[np.isfinite(col[order])]
                out_q.extend([qid] * len(keep))
                out_id.extend(ids[keep].tolist())
                out_sim.extend(col[keep].tolist())
            yield pd.DataFrame(
                {"qid": out_q, id_col: out_id, "__rawsim": out_sim}
            )

    local = df.select(id_col, vec_col).mapInPandas(
        score, schema=f"qid long, {id_col} long, __rawsim double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("__rawsim").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        local.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .select(
            "qid",
            F.col(id_col),
            F.round("__rawsim", 6).alias("sim"),
            F.col("__rank").alias("rank"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, candidate-generated within LSH
    buckets (high-cosine pairs land in the same bucket with prob
    (1 - θ/π)^planes).  The self-join shuffles (bucket, id, vec) once."""
    df = df.where(F.col(vec_col).isNotNull())
    if dim is None:
        # size(NULL) is NULL → range(None) TypeError; nulls filtered above,
        # but an all-null/empty frame still needs the guard
        first = df.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], "id_a bigint, id_b bigint, sim double"
            )
        dim = first["d"]
    planes = _planes(dim, n_planes, seed)
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine_similarity(F.col("l.v"), F.col("r.v")), 6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Coarse quantization key: the sign pattern of the first ``bits``
    dimensions as a '0'/'1' string.  A pure codegen expression (slice +
    transform + concat_ws), so bucket assignment happens in the scan
    stage; ``bits`` sets the bucket count (2^bits) and therefore the
    within-bucket pair density downstream."""
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, 1, bits),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


def sign_bucket_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 6,
    threshold: float = 0.3,
) -> DataFrame:
    """Candidate pairs from sign-bucket blocking: vectors sharing the
    sign pattern of their first ``bits`` dims pair up (id_a < id_b) and
    survive if rounded cosine ≥ ``threshold``.  The scale-safe pair
    source for component-based semantic clustering: bucket assignment
    is scan-stage codegen, the self-join is a plain hash join on the
    bucket key (2^bits groups — raise ``bits`` to keep per-bucket
    candidate counts bounded as the corpus grows), never an all-pairs
    theta join.  Returns (id_a, id_b, sim rounded 4dp)."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    l, r = base.alias("l"), base.alias("r")
    sim = F.round(cosine_similarity(F.col("l.v"), F.col("r.v")), 4)
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            sim.alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    coarse-quantize each embedding to a bucket, elect the min-id member as
    the bucket representative, and flag members whose cosine similarity to
    the representative clears ``threshold`` as semantic duplicates.

    Plan shape: bucket assignment is scan-stage codegen; representative
    election and similarity both ride ONE hash shuffle on the bucket key —
    a ``Window.partitionBy(bucket).orderBy(id)`` carries the rep's id and
    vector to every member with ``first()``, so there is no join and no
    driver-side state.  At 100 TB the same plan holds: buckets are the
    unit of parallelism (raise ``bits`` to keep them small), and the
    output would be written partitioned by ``is_dup`` for downstream
    filtering.  The reference has no embedding ops (SURVEY §2 extension).

    Returns (id, bucket, rep_id, sim, is_dup); ``sim`` rounded to 4.
    """
    from pyspark.sql import Window

    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("id")
    withrep = base.select(
        "id",
        "bucket",
        F.first("id").over(w).alias("rep_id"),
        F.first("v").over(w).alias("rep_v"),
        "v",
    )
    sim = F.round(cosine_similarity(F.col("v"), F.col("rep_v")), 4)
    return withrep.select(
        "id",
        "bucket",
        "rep_id",
        sim.alias("sim"),
        ((F.col("id") != F.col("rep_id")) & (sim >= F.lit(threshold))).alias("is_dup"),
    )


def kcenter_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
) -> DataFrame:
    """Diversity coreset selection: greedy k-center over cosine distance
    (Gonzalez's 2-approximation) — pick the min-id point, then k−1 times
    the point FARTHEST from everything chosen so far.  This is the
    diversity-sampling shape for training data ("cover the embedding
    space with k exemplars"), the dual of near-dup removal.

    Determinism across engines: every pairwise distance is rounded to 6
    decimals BEFORE the min/argmax, and argmax ties break on the id — so
    the greedy trajectory is reproducible (the oracle replays it with k
    unrolled SQL steps).

    Scale shape (cache-and-update, VERDICT r4 item 3): the running
    min-distance-to-any-chosen-center is MAINTAINED as a persisted
    ``(id, v, md)`` frame — each round computes the distance to the ONE
    newly-chosen center and folds it in with ``least``, instead of
    recomputing all ≤k center distances per round.  k−1 rounds × one
    distance expression per row (pure codegen) + a TakeOrdered(1); only
    the k center rows ever reach the driver — the same bounded-driver-
    state pattern as the IVF coarse quantizer (similarity.py:125).
    Each round's TakeOrdered scans every cached partition, so the
    persisted state is fully materialized as a side effect and the
    next round's lineage starts from cache, not from the source scan.

    Returns (rank, id, radius): selection order and the point's min
    distance to the earlier centers at selection time (rank 1 → NULL).
    The final radius bounds every point's distance to its nearest center
    within 2× of optimal."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    first = base.orderBy("id").limit(1).collect()
    if not first:
        return df.sparkSession.createDataFrame(
            [], "rank int, id bigint, radius double"
        )
    centers = [(1, first[0]["id"], None)]

    def _dist_to(cv):
        return F.round(1 - cosine_similarity(F.col("v"), _query_lit(cv)), 6)

    # md = min distance to any chosen center so far, seeded from center 1
    state = (
        base.where(F.col("id") != first[0]["id"])
        .select("id", "v", _dist_to(list(first[0]["v"])).alias("md"))
        .persist()
    )
    try:
        for r in range(2, k + 1):
            cand = (
                state.orderBy(F.col("md").desc(), F.col("id").asc())
                .limit(1)
                .collect()
            )
            if not cand:
                break
            row = cand[0]
            centers.append((r, row["id"], float(row["md"])))
            if r == k:
                break  # no further selection -> no update needed
            new_state = (
                state.where(F.col("id") != row["id"])
                .select(
                    "id",
                    "v",
                    F.least(F.col("md"), _dist_to(list(row["v"]))).alias("md"),
                )
                .persist()
            )
            state.unpersist()
            state = new_state
    finally:
        state.unpersist()
    return df.sparkSession.createDataFrame(
        centers, "rank int, id bigint, radius double"
    )


def twonn_intrinsic_dim(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_mod: int = 8,
    max_probe_id: int = 512,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding space
    (Facco et al. 2017, "Estimating the intrinsic dimension of datasets
    by a minimal neighborhood information"): for a deterministic probe
    subset (ids ≡ 0 mod ``probe_mod``), the ratio μ = r2/r1 of each
    probe's two nearest-neighbor distances yields the MLE
    d ≈ n / Σ ln(μ).  Low d on a 64-wide embedding column flags a
    collapsed/degenerate embedding model — a curation diagnostic before
    ANN indexes are built on garbage.

    Execution: the probe set broadcasts against one corpus scan (the
    same bounded-probe shape as knn_join); per-probe neighbor ranking is
    a probe-keyed window over rounded distances (round-before-rank +
    id tie-break keeps the chosen neighbors engine-reproducible).
    Zero-distance neighbors (exact duplicate vectors) drop their probe —
    the standard TwoNN treatment.  Returns one row:
    (n_probes, id_est)."""
    from pyspark.sql import Window

    # norms hoisted out of the pair product: computed once per corpus
    # row and once per probe instead of twice per PAIR — the pair stage
    # then runs a single dot fold (3× fewer array folds in the hot loop)
    base = df.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    ).where(F.col("cn") > 0)
    # the probe set is BOUNDED (≤ max_probe_id/probe_mod probes): TwoNN's
    # estimator converges with a few dozen probes, and an unbounded
    # probe fraction would make the probe×corpus product grow
    # quadratically with data size
    probes = df.where(
        ((F.col(id_col) % probe_mod) == 0) & (F.col(id_col) < max_probe_id)
    ).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    ).where(F.col("qn") > 0)
    dist = F.round(
        1 - dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")), 6
    )
    scored = base.crossJoin(F.broadcast(probes)).select(
        "qid", "cid", dist.alias("d")
    )
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("cid").asc())
    ranked = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn").isin(2, 3)
    )
    per_probe = ranked.groupBy("qid").agg(
        F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("r1"),
        F.min(F.when(F.col("rn") == 3, F.col("d"))).alias("r2"),
    )
    valid = per_probe.where((F.col("r1") > 0) & F.col("r2").isNotNull())
    return valid.agg(
        F.count("*").alias("n_probes"),
        F.round(
            F.count("*") / F.sum(F.log(F.col("r2") / F.col("r1"))), 4
        ).alias("id_est"),
    )


def _sqdist_to_lit(sub: Column, cent: list[float]) -> Column:
    """Squared L2 distance between an array column and a literal centroid,
    as a strict left-to-right fold (summation order fixed so the rounded
    value is engine-reproducible)."""
    c = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lloyd_seeds(
    df: DataFrame, vec_col: str, id_col: str, k: int, caller: str
) -> "tuple[list, int]":
    """ONE collect serving both the seed rows AND the dimensionality
    probe of a Lloyd trainer (r12 optimization round): the old shape
    paid a separate ``first()`` job for dim plus one seed collect per
    quantizer spec — pure driver-job latency, since the seed vectors
    already carry the dimensionality.  Returns ([(id, vec), …] for ids
    < k ordered, dim).  Error messages and their precedence replicate
    the old probes exactly (the pathological no-non-empty-seed path
    falls back to the old ``first()`` probe, costing a job only where
    the old code did too)."""
    seeds = (
        df.where(F.col(id_col) < k)
        .orderBy(id_col)
        .select(
            F.col(id_col).alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .collect()
    )
    dim = next(
        (len(r["v"]) for r in seeds if r["v"] is not None and len(r["v"]) > 0),
        None,
    )
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
        if first is None:
            raise ValueError(f"{caller}: no non-empty vectors")
        dim = first["d"]
    return seeds, dim


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 2,
    k: int = 8,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    each vector into ``m`` contiguous subvectors and run ``k``-means
    independently in each subspace.  Returns ``codebooks[s][j]`` = the
    ``j``-th centroid of subspace ``s`` (components rounded to 6 dp so
    the fixed-iteration run is engine-reproducible — the DuckDB oracle
    unrolls the identical Lloyd iterations).

    Deterministic by construction: centroids initialise from the
    subvectors of rows ``id_col`` 0..k-1 (ordered), every assignment is
    argmin of the ROUNDED squared distance with smallest-index
    tie-break, iteration count is FIXED (classic PQ trains to a fixed
    budget, not convergence), and an emptied cluster keeps its previous
    centroid.  Distribution shape: each Lloyd step is one scan computing
    argmin against the broadcast (literal) centroids + one groupBy(code)
    positional mean — centroids are m·k·(dim/m) floats, metadata-scale
    on the driver exactly like the IVF coarse quantizer's model.  At
    warehouse scale the training scan runs on a sample; the full-table
    pass is only the final encode (see ``pq_encode``).
    """
    seeds, dim = _lloyd_seeds(df, vec_col, id_col, k, "pq_train")
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    dsub = dim // m

    if len(seeds) < k:
        raise ValueError(f"pq_train: need {k} seed rows with {id_col} < {k}")
    books = [
        [list(map(float, r["v"][s * dsub : (s + 1) * dsub])) for r in seeds]
        for s in range(m)
    ]

    dvec = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        # ALL subspaces assign + recenter in ONE table pass: each
        # subspace's Lloyd step depends only on its own codebook, so the
        # per-subspace (code, subvector) pairs stack via explode and one
        # groupBy(s, code) recenters everything — iters scans total
        # instead of m·iters (at m=8-16 on a 100 TB table that is the
        # difference between 2 and 32 full passes; measured sf0.1:
        # ~35% off the query).  Subvectors materialize as projected
        # columns FIRST: lambda expressions get no CSE, so an inline
        # slice would re-evaluate once per centroid (the winnow rule —
        # k+1 consumers each).
        proj = df.select(
            *[
                F.slice(dvec, s * dsub + 1, dsub).alias(f"__sub{s}")
                for s in range(m)
            ]
        )
        stacked = []
        for s in range(m):
            sub = F.col(f"__sub{s}")
            choices = F.array(
                *[
                    F.struct(
                        F.round(_sqdist_to_lit(sub, books[s][j]), 6).alias("d"),
                        F.lit(j).alias("j"),
                    )
                    for j in range(k)
                ]
            )
            stacked.append(
                F.struct(
                    F.lit(s).alias("s"),
                    F.array_min(choices)["j"].alias("c"),
                    sub.alias("sub"),
                )
            )
        assigned = proj.select(F.explode(F.array(*stacked)).alias("a")).select(
            F.col("a.s").alias("__s"),
            F.col("a.c").alias("__code"),
            F.col("a.sub").alias("__sub"),
        )
        rows = (
            assigned.groupBy("__s", "__code")
            .agg(
                *[
                    F.round(F.avg(F.element_at("__sub", i + 1)), 6).alias(f"c{i}")
                    for i in range(dsub)
                ]
            )
            .collect()
        )
        for r in rows:
            books[r["__s"]][r["__code"]] = [float(r[f"c{i}"]) for i in range(dsub)]
    return books


def pq_topk(
    df: DataFrame,
    books: list[list[list[float]]],
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_out: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: encode each row to
    its per-subspace centroid index (argmin of the rounded squared
    distance — the same expression the trainer used), then score it as
    the sum of the query-to-centroid lookup table entries.  The LUT is
    m·k numbers computed once against the raw query — the scan never
    touches the query vector per row, which is the whole point of PQ:
    at 100 TB the stored table is the (id, code…) table (codes are
    ``m`` small ints per row, ~32× smaller than the raw vectors) and a
    probe is a scan over codes + an ``element_at`` into the broadcast
    LUT, no vector math in the hot loop.  Ranking is on the rounded ADC
    distance ascending, id as tie-break."""
    m = len(books)
    if m == 0:
        raise ValueError("pq_topk: empty codebooks")
    dsub = len(books[0][0])
    if len(query) != m * dsub:
        raise ValueError(
            f"pq_topk: query dim {len(query)} != m*dsub {m * dsub}"
        )
    # one encode expression exists in this module: pq_encode/_code_col
    # (subvectors projected first — the winnow rule) feeding the same
    # _adc_rank the persisted-index probe uses, so the inline and
    # indexed paths CANNOT desynchronize
    return _adc_rank(
        pq_encode(df, books, vec_col, id_col), books, query, id_col, k_out
    )


def hard_negatives(
    df: DataFrame,
    n_anchors: int = 8,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector (the rows with ``id_col`` < ``n_anchors`` — a probe set), the
    top-``k`` most cosine-similar vectors carrying a DIFFERENT label —
    the near-miss negatives a contrastive loss learns most from.

    Same shape as ``knn_join``: the anchor set broadcasts, scoring is a
    map-side loop inside the scan stage (no corpus shuffle), the label
    mismatch is a scan-stage filter BEFORE ranking, and the per-anchor
    ranking windows on the anchor id.  At corpus scale swap the scorer
    for ``knn_join_batched``'s BLAS path; semantics are identical."""
    from pyspark.sql import Window

    q = df.where(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__qlabel"),
    )
    sim = cosine_similarity(F.col(vec_col), F.col("__qv"))
    w = Window.partitionBy("qid").orderBy(
        F.col("__rawsim").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        df.join(F.broadcast(q))
        .where(F.col(label_col) != F.col("__qlabel"))
        .select("qid", F.col(id_col), sim.alias("__rawsim"))
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .select(
            "qid",
            F.col(id_col),
            F.round("__rawsim", 6).alias("sim"),
            F.col("__rank").alias("rank"),
        )
    )


def truncation_recall(
    df: DataFrame,
    dims: "tuple[int, ...]" = (16, 32),
    n_probes: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al. 2022):
    for each probe vector (``id_col`` < ``n_probes``) and each prefix
    dimensionality in ``dims``, the overlap between the cosine top-``k``
    computed on the TRUNCATED prefix and the full-dimension top-``k`` —
    the recall@k a vector store would get after cutting storage to the
    prefix.  Returns (qid, dim, n_overlap, recall).

    Shape: the probe set broadcasts once (knn_join's reviewed pattern),
    each dimensionality is one scan-stage scoring pass + one per-probe
    rank window, and the overlap join is over ≤ k·probes rows — at any
    corpus scale the only data-sized work is the scoring scans.  Every
    ranking orders on the RAW similarity with id tie-break (rounding
    before ranking could flip top-k membership vs the oracle); the
    probe's own row tops both rankings (its prefix is identical), so
    every (qid, dim) emits a row."""
    from pyspark.sql import Window

    full_dim = df.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
    if full_dim is None:
        raise ValueError("truncation_recall: no non-empty vectors")
    full_dim = full_dim["d"]
    bad = [d for d in dims if d < 1 or d >= full_dim]
    if bad or n_probes < 1 or k < 1:
        raise ValueError(
            f"need 1 <= dim < {full_dim}, n_probes >= 1, k >= 1 "
            f"(got dims={dims}, n_probes={n_probes}, k={k})"
        )

    q = df.where(F.col(id_col) < n_probes).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("__qv")
    )
    j = df.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(q))

    def topk(d: int) -> DataFrame:
        ev = F.slice(F.col(vec_col), 1, d) if d < full_dim else F.col(vec_col)
        qv = F.slice(F.col("__qv"), 1, d) if d < full_dim else F.col("__qv")
        sim = cosine_similarity(ev, qv)
        w = Window.partitionBy("qid").orderBy(
            F.col("__s").desc_nulls_last(), F.col(id_col).asc()
        )
        return (
            j.select("qid", F.col(id_col), sim.alias("__s"))
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= k)
            .select("qid", F.col(id_col).alias("vec_id"))
        )

    full = topk(full_dim)
    trunc = None
    for d in dims:
        part = topk(d).withColumn("dim", F.lit(int(d)))
        trunc = part if trunc is None else trunc.unionByName(part)
    return (
        trunc.join(full, ["qid", "vec_id"])
        .groupBy("qid", "dim")
        .agg(F.count("*").cast("int").alias("n_overlap"))
        .select(
            "qid",
            "dim",
            "n_overlap",
            F.round(F.col("n_overlap") / F.lit(k), 4).alias("recall"),
        )
    )


def jl_distortion(
    df: DataFrame,
    out_dim: int = 16,
    seed: int = 11,
    n_sample: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss random-projection distortion audit: project
    every sampled vector to ``out_dim`` dims with a seeded Gaussian
    plane family (y_i = x·p_i / sqrt(out_dim) — the JL estimator whose
    expected squared norm is the original), then report, for every
    sampled pair, the squared-distance ratio ||ya−yb||² / ||xa−xb||² —
    the certificate a pipeline checks before swapping full vectors for
    projections in clustering/dedup.  Returns (id_a, id_b, ratio),
    ratio NULL for identical vectors.

    Shape: the projection is pure scan-stage codegen (out_dim literal
    dot products per row — the plane family is a deterministic function
    of (dim, out_dim, seed), broadcast as constants exactly like the
    LSH hyperplanes); the pair join runs over the bounded ``n_sample``
    probe subset only, so the audit costs one scan plus a
    sample²-sized comparison no matter the corpus size."""
    first = df.select(F.size(vec_col).alias("d")).where(F.col("d") > 0).first()
    if first is None:
        raise ValueError("jl_distortion: no non-empty vectors")
    dim = first["d"]
    if out_dim < 1 or out_dim >= dim or n_sample < 2:
        raise ValueError(
            f"need 1 <= out_dim < {dim} and n_sample >= 2 "
            f"(got out_dim={out_dim}, n_sample={n_sample})"
        )
    planes = _planes(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    dvec = F.col(vec_col).cast("array<double>")
    proj = F.array(
        *[(dot(dvec, _query_lit(p)) * F.lit(scale)) for p in planes]
    )
    sub = df.where(F.col(id_col) < n_sample).select(
        F.col(id_col).alias("id"), dvec.alias("v"), proj.alias("y")
    )

    def sqd(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, z: (x - z) * (x - z)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    a, b = sub.alias("a"), sub.alias("b")
    dorig = sqd(F.col("a.v"), F.col("b.v"))
    dproj = sqd(F.col("a.y"), F.col("b.y"))
    return (
        a.join(F.broadcast(b), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.when(dorig == 0, F.lit(None))
            .otherwise(F.round(dproj / dorig, 6))
            .alias("ratio"),
        )
    )


def ivfpq_topk(
    df: DataFrame,
    query: list[float],
    nlist: int = 8,
    nprobe: int = 3,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    k_out: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ probe — the production ANN composition (FAISS IVFPQ): a
    coarse quantizer prunes the scan to ``nprobe``/``nlist`` of the
    table, then PQ asymmetric distances rank the survivors from their
    codes.  Both quantizers train with the same deterministic Lloyd
    discipline as :func:`pq_train` (the coarse quantizer IS pq_train
    with m=1 — one subspace covering the whole vector), so the full
    pipeline is engine-replayable: the oracle unrolls coarse training,
    cell assignment, probe selection, PQ training, encoding, and the
    ADC ranking.

    At 100 TB the stored table is (id, cell, code…) partitioned by
    cell: the probe prunes whole partitions at the file index, the
    scan reads m small ints per row, and both codebooks plus the LUT
    are broadcast metadata."""
    if not 1 <= nprobe <= nlist:
        raise ValueError(f"need 1 <= nprobe <= nlist (got {nprobe}/{nlist})")
    coarse_books, books = _lloyd_train_multi(
        df, [(1, nlist), (m, k)], iters, vec_col, id_col
    )
    coarse = coarse_books[0]

    # the double-cast vector materializes as a column first — the cast
    # allocates per evaluation and the cell argmin reads it nlist times
    # (no CSE for lambda expressions; the winnow rule)
    proj = df.withColumn("__dv", F.col(vec_col).cast("array<double>"))
    choices = F.array(
        *[
            F.struct(
                F.round(_sqdist_to_lit(F.col("__dv"), coarse[j]), 6).alias("d"),
                F.lit(j).alias("j"),
            )
            for j in range(nlist)
        ]
    )
    cell = F.array_min(choices)["j"]
    # probe-cell ranking is nlist rows of driver-side metadata — same
    # rounded-distance + smallest-index discipline as the row-side argmin
    probe = sorted(
        range(nlist),
        key=lambda j: (
            _round_half_up(sum((a - b) * (a - b) for a, b in zip(query, coarse[j]))),
            j,
        ),
    )[:nprobe]
    cand = (
        proj.withColumn("__cell", cell)
        .where(F.col("__cell").isin(probe))
        .drop("__dv", "__cell")
    )
    return pq_topk(cand, books, query, vec_col, id_col, k_out)


def _code_col(book: list[list[float]], sub: Column) -> Column:
    """One subspace's PQ code over a prepared subvector column: argmin
    of the 6-dp-rounded squared distance to each centroid, smallest
    index on ties — the exact expression :func:`pq_train` used for
    assignment, so encode == train assignment.  Callers must pass a
    MATERIALIZED projection column, not an inline slice — lambda
    arguments get no CSE, so an inline slice re-evaluates once per
    centroid (the winnow rule; k+1 consumers each)."""
    choices = F.array(
        *[
            F.struct(
                F.round(_sqdist_to_lit(sub, c), 6).alias("d"),
                F.lit(j).alias("j"),
            )
            for j, c in enumerate(book)
        ]
    )
    return F.array_min(choices)["j"].cast("smallint")


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its PQ code tuple: (id, code0..code{m-1}),
    one ``smallint`` per subspace.  This is the full-table pass PQ
    exists for — after it, probes scan ``m`` small ints per row
    (~32× less IO than raw float vectors) and never touch ``vec_col``
    again.  Subvectors materialize as projected columns first (the
    winnow rule — k consumers each), then codes come from the same
    rounded-argmin expression the trainer used."""
    if not books:
        raise ValueError("pq_encode: empty codebooks")
    m = len(books)
    dsub = len(books[0][0])
    dvec = F.col(vec_col).cast("array<double>")
    proj = df.select(
        F.col(id_col),
        *[F.slice(dvec, s * dsub + 1, dsub).alias(f"__sub{s}") for s in range(m)],
    )
    return proj.select(
        F.col(id_col),
        *[
            _code_col(books[s], F.col(f"__sub{s}")).alias(f"code{s}")
            for s in range(m)
        ],
    )


def write_pq_index(
    df: DataFrame,
    path: str,
    books: list[list[list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 2,
    k: int = 8,
    iters: int = 2,
) -> None:
    """Persist a PQ index: the (id, code…) table at ``<path>/codes``
    plus the (tiny) codebook table at ``<path>/_codebooks`` — the
    stored form :func:`pq_topk`'s docstring promises.  Training runs
    here unless ``books`` is supplied (at warehouse scale: train on a
    sample, pass the books in, and this writer's only full-table pass
    is the encode)."""
    if books is None:
        books = pq_train(df, vec_col, id_col, m, k, iters)
    pq_encode(df, books, vec_col, id_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    _write_codebooks(df.sparkSession, books, f"{path}/_codebooks")


def append_pq_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally extend a :func:`write_pq_index` codes table: new
    rows encode against the FROZEN stored codebooks (one O(new) pass)
    and append to ``<path>/codes`` — the flat-index sibling of
    :func:`append_ivfpq_index`, same retrain caveat (frozen codebooks
    quantize unseen regions coarsely)."""
    spark = df_new.sparkSession
    books = _read_codebooks(spark, f"{path}/_codebooks")
    pq_encode(df_new, books, vec_col, id_col).write.mode("append").parquet(
        f"{path}/codes"
    )


def _write_codebooks(spark, books, path: str) -> None:
    rows = [
        (s, j, list(map(float, c)))
        for s, book in enumerate(books)
        for j, c in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "s int, j int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _read_codebooks(spark, path: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(path).collect()
    m = max(r["s"] for r in rows) + 1
    books: list[list] = [
        [None] * sum(1 for r in rows if r["s"] == s) for s in range(m)
    ]
    for r in rows:
        books[r["s"]][r["j"]] = [float(x) for x in r["centroid"]]
    return books


def _adc_rank(
    codes: DataFrame,
    books: list[list[list[float]]],
    query: list[float],
    id_col: str,
    k_out: int,
) -> DataFrame:
    """Rank a (id, code…) frame by asymmetric distance to ``query``:
    the LUT (m·k numbers) is computed driver-side against the raw query
    and broadcast as literals; the scan is ``element_at`` per subspace —
    no vector math, no raw vectors.  Same rounding discipline (6-dp
    HALF_UP) as :func:`pq_topk`, so the indexed probe returns the
    identical ranking."""
    m = len(books)
    dsub = len(books[0][0])
    if len(query) != m * dsub:
        raise ValueError(f"_adc_rank: query dim {len(query)} != m*dsub {m * dsub}")
    adist = F.lit(0.0)
    for s in range(m):
        qsub = query[s * dsub : (s + 1) * dsub]
        lut = [
            _round_half_up(sum((a - b) * (a - b) for a, b in zip(qsub, c)))
            for c in books[s]
        ]
        adist = adist + F.element_at(
            F.array(*[F.lit(float(d)) for d in lut]),
            F.col(f"code{s}").cast("int") + 1,
        )
    return (
        codes.select(F.col(id_col), F.round(adist, 6).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k_out)
    )


def pq_topk_indexed(
    spark,
    path: str,
    query: list[float],
    id_col: str = "vec_id",
    k_out: int = 10,
) -> DataFrame:
    """Probe a :func:`write_pq_index` table: read the stored codebooks
    (metadata-scale), build the query LUT driver-side, and rank the
    (id, code…) scan — the scan reads ``m`` smallints per row, never a
    raw vector.  Returns the identical (id, adist) ranking as the
    inline :func:`pq_topk`."""
    books = _read_codebooks(spark, f"{path}/_codebooks")
    return _adc_rank(
        spark.read.parquet(f"{path}/codes"), books, query, id_col, k_out
    )


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    nlist: int = 8,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the IVF-PQ index :func:`ivfpq_topk`'s docstring promises:
    the (id, code…) table PARTITIONED BY coarse cell at
    ``<path>/codes`` (each cell is its own directory — a probe prunes
    whole files at the file index), the coarse centroids at
    ``<path>/_coarse`` and the PQ codebooks at ``<path>/_codebooks``
    (both metadata-scale).  Both quantizers train off the same stacked
    Lloyd scans (:func:`_lloyd_train_multi`); cell assignment and PQ
    encode then share ONE full-table pass — build cost is
    ``iters + 1`` scans total, paid once, after which every probe reads
    ``nprobe``/``nlist`` of the files and ``m`` smallints per row."""
    coarse_books, books = _lloyd_train_multi(
        df, [(1, nlist), (m, k)], iters, vec_col, id_col
    )
    coarse = coarse_books[0]
    _ivfpq_encode(df, coarse, books, vec_col, id_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/codes")
    # _stats and _coarse BEFORE _codebooks: callers gate completeness on
    # _codebooks/_SUCCESS being written LAST, so a crash mid-build never
    # leaves a "complete" index missing its census
    _write_index_stats(df.sparkSession, path)
    _write_codebooks(df.sparkSession, [coarse], f"{path}/_coarse")
    _write_codebooks(df.sparkSession, books, f"{path}/_codebooks")


def _ivfpq_encode(
    df: DataFrame,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, code0..m-1, cell) for every row — cell assignment and PQ
    encode share ONE pass; the double-cast vector and each subvector
    materialize as projection columns first (no CSE for lambda
    arguments — the winnow rule).  Shared by the initial
    :func:`write_ivfpq_index` build and :func:`append_ivfpq_index`
    (which encodes against FROZEN stored codebooks)."""
    m = len(books)
    dsub = len(books[0][0])
    dvec = F.col(vec_col).cast("array<double>")
    proj = df.select(
        F.col(id_col),
        dvec.alias("__dv"),
        *[F.slice(dvec, s * dsub + 1, dsub).alias(f"__sub{s}") for s in range(m)],
    )
    choices = F.array(
        *[
            F.struct(
                F.round(_sqdist_to_lit(F.col("__dv"), c), 6).alias("d"),
                F.lit(j).alias("j"),
            )
            for j, c in enumerate(coarse)
        ]
    )
    return proj.select(
        F.col(id_col),
        *[
            _code_col(books[s], F.col(f"__sub{s}")).alias(f"code{s}")
            for s in range(m)
        ],
        F.array_min(choices)["j"].alias("cell"),
    )


def _write_index_stats(spark, path: str) -> None:
    """Snapshot per-cell row counts of the codes table into
    ``<path>/_stats`` — the BUILD-time (training-time) census that
    :func:`ivfpq_index_staleness` measures appended drift against.
    Reads back the just-written codes (m smallints per row — one cheap
    columnar pass, never the raw vectors)."""
    spark.read.parquet(f"{path}/codes").groupBy("cell").agg(
        F.count("*").alias("n_build")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_stats")


def append_ivfpq_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally extend a :func:`write_ivfpq_index` table with new
    rows — the production shape for a weekly-growing corpus (VERDICT r8
    item 2).  The stored coarse centroids and PQ codebooks are FROZEN:
    new rows encode against them in one pass over ``df_new`` only and
    append into the existing cell-partitioned codes table (each cell
    directory gains files; nothing is rewritten), so refresh cost is
    O(new rows), not the static build's full re-encode.  The build-time
    ``_stats`` census is left untouched — that is the baseline
    :func:`ivfpq_index_staleness` computes retrain-signal drift
    against.  Frozen codebooks mean appended vectors in regions the
    trainer never saw quantize coarsely; the staleness stat is the
    caller's cue to retrain (rebuild) when drift crosses policy."""
    spark = df_new.sparkSession
    coarse = _read_codebooks(spark, f"{path}/_coarse")[0]
    books = _read_codebooks(spark, f"{path}/_codebooks")
    _ivfpq_encode(df_new, coarse, books, vec_col, id_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{path}/codes")


def ivfpq_index_staleness(spark, path: str) -> DataFrame:
    """Per-cell count drift of an IVF-PQ index vs its build-time census:
    (cell, n_build, n_now, n_appended, drift) where ``drift`` =
    appended/built.  Appends never retrain, so cells that grew far past
    their training population are quantizing unseen data with stale
    centroids — the caller's retrain threshold reads this frame (e.g.
    ``max(drift) > 0.5`` or total appended fraction > 20%).  Cost: one
    scan of the codes table's smallints + the metadata-scale _stats."""
    now = spark.read.parquet(f"{path}/codes").groupBy("cell").agg(
        F.count("*").alias("n_now")
    )
    build = spark.read.parquet(f"{path}/_stats")
    return (
        now.join(build, "cell", "left")
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(F.col("n_build"), F.lit(0)).alias("n_build"),
            F.col("n_now"),
            (F.col("n_now") - F.coalesce(F.col("n_build"), F.lit(0))).alias(
                "n_appended"
            ),
            F.when(
                F.coalesce(F.col("n_build"), F.lit(0)) > 0,
                (F.col("n_now") - F.col("n_build"))
                / F.col("n_build").cast("double"),
            ).alias("drift"),
        )
        .orderBy("cell")
    )


def ivfpq_topk_indexed(
    spark,
    path: str,
    query: list[float],
    nprobe: int = 3,
    id_col: str = "vec_id",
    k_out: int = 10,
) -> DataFrame:
    """Probe a :func:`write_ivfpq_index` table: rank the stored coarse
    centroids driver-side (nlist rows, 6-dp HALF_UP — the same
    discipline as the row-side argmin and the oracle), read ONLY the
    ``nprobe`` nearest cells' partition directories (file-index
    pruning, asserted by tests/test_sinks.py), and ADC-rank the
    surviving codes against the broadcast LUT.  Identical (id, adist)
    output to the inline :func:`ivfpq_topk` at the same parameters —
    the physical path is the 100 TB one: no training, no raw vectors,
    ``nprobe``/``nlist`` of the files."""
    coarse = _read_codebooks(spark, f"{path}/_coarse")[0]
    probe = sorted(
        range(len(coarse)),
        key=lambda j: (
            _round_half_up(sum((a - b) * (a - b) for a, b in zip(query, coarse[j]))),
            j,
        ),
    )[:nprobe]
    books = _read_codebooks(spark, f"{path}/_codebooks")
    cand = spark.read.parquet(f"{path}/codes").where(F.col("cell").isin(probe))
    return _adc_rank(cand, books, query, id_col, k_out)


def _lloyd_train_multi(
    df: DataFrame,
    specs: "list[tuple[int, int]]",
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "list[list[list[list[float]]]]":
    """Train SEVERAL product quantizers in one stacked Lloyd loop —
    ``specs`` is a list of (m, k) and the result is one ``pq_train``
    codebook set per spec, bit-identical to training each separately
    (every (quantizer, subspace) pair's step depends only on its own
    codebook, so stacking them into one explode + one
    groupBy(t, s, code) changes nothing but the scan count: ``iters``
    table passes for ALL quantizers instead of Σ m_t · iters).  This is
    how IVF-PQ trains its coarse quantizer (m=1) and its code books
    (m≥2) off the same scans."""
    # ONE seed collect covers every spec (r12: ids < max k, sliced per
    # spec) and doubles as the dim probe — the old shape paid 1 first()
    # + len(specs) collects of the SAME rows, pure driver-job latency
    seeds_all, dim = _lloyd_seeds(
        df, vec_col, id_col, max(k for _, k in specs), "_lloyd_train_multi"
    )
    all_books: list[list[list[list[float]]]] = []
    dsubs: list[int] = []
    for m, k in specs:
        if dim % m != 0:
            raise ValueError(f"_lloyd_train_multi: dim {dim} not divisible by {m}")
        dsub = dim // m
        dsubs.append(dsub)
        seeds = [r for r in seeds_all if r["i"] < k]
        if len(seeds) < k:
            raise ValueError(
                f"_lloyd_train_multi: need {k} seed rows with {id_col} < {k}"
            )
        all_books.append(
            [
                [list(map(float, r["v"][s * dsub : (s + 1) * dsub])) for r in seeds]
                for s in range(m)
            ]
        )

    dvec = F.col(vec_col).cast("array<double>")
    max_dsub = max(dsubs)
    for _ in range(iters):
        # subvectors materialize as projected columns first (no CSE for
        # lambda expressions — the winnow rule; k+1 consumers each)
        proj = df.select(
            *[
                F.slice(dvec, s * dsubs[t] + 1, dsubs[t]).alias(f"__sub_{t}_{s}")
                for t, (m, _k) in enumerate(specs)
                for s in range(m)
            ]
        )
        stacked = []
        for t, (m, k) in enumerate(specs):
            for s in range(m):
                sub = F.col(f"__sub_{t}_{s}")
                choices = F.array(
                    *[
                        F.struct(
                            F.round(
                                _sqdist_to_lit(sub, all_books[t][s][j]), 6
                            ).alias("d"),
                            F.lit(j).alias("j"),
                        )
                        for j in range(k)
                    ]
                )
                stacked.append(
                    F.struct(
                        F.lit(t).alias("t"),
                        F.lit(s).alias("s"),
                        F.array_min(choices)["j"].alias("c"),
                        sub.alias("sub"),
                    )
                )
        assigned = proj.select(F.explode(F.array(*stacked)).alias("a")).select(
            F.col("a.t").alias("__t"),
            F.col("a.s").alias("__s"),
            F.col("a.c").alias("__code"),
            F.col("a.sub").alias("__sub"),
        )
        # try_element_at past a shorter subvector's end is NULL (plain
        # element_at THROWS under ANSI); avg ignores NULLs and the
        # reconstruction below slices to each spec's dsub
        rows = (
            assigned.groupBy("__t", "__s", "__code")
            .agg(
                *[
                    F.round(F.avg(F.try_element_at("__sub", F.lit(i + 1))), 6).alias(
                        f"c{i}"
                    )
                    for i in range(max_dsub)
                ]
            )
            .collect()
        )
        for r in rows:
            t = r["__t"]
            all_books[t][r["__s"]][r["__code"]] = [
                float(r[f"c{i}"]) for i in range(dsubs[t])
            ]
    return all_books


def bitext_mine(
    df: DataFrame,
    queries: DataFrame,
    k: int = 8,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "vec_id",
    q_vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based parallel-corpus mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 — the LASER/CCMatrix recipe behind large-scale MT
    training data): for every query (source-language) vector, the best
    target candidate is accepted only when its similarity STANDS OUT
    from the query's neighborhood — margin = cos(best) / mean(cos of
    the k nearest) — which kills the hubness false positives a plain
    cosine threshold lets through.

    Built on :func:`knn_join` (broadcast probe set, map-side codegen
    scoring, per-query ranking) plus ONE more keyed aggregation.
    Cross-engine exactness: similarities quantize to 1e-6 integers
    before the margin ratio, so the mean is integer arithmetic and the
    margin is a single exact int division — no float-sum-order drift.

    Returns (qid, best_id, best_sim_micros, n_topk, margin, accepted)."""
    nn = knn_join(
        df, queries, k=k, vec_col=vec_col, id_col=id_col,
        q_id_col=q_id_col, q_vec_col=q_vec_col,
    )
    simq = F.round(F.col("sim") * 1_000_000).cast("bigint")
    agg = (
        nn.select("qid", F.col(id_col), F.col("sim"), simq.alias("__sq"),
                  "rank")
        .groupBy("qid")
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col(id_col))).alias(
                "best_id"
            ),
            F.max(F.when(F.col("rank") == 1, F.col("__sq"))).alias("__bq"),
            F.sum("__sq").alias("__sumq"),
            F.count("*").alias("n_topk"),
        )
    )
    margin = (F.col("__bq") * F.col("n_topk")) / F.col("__sumq")
    return agg.select(
        "qid",
        "best_id",
        # exact 1e-6-quantized integer, not a rounded double: ROUND(x, 6)
        # on a raw cosine can land on a half-way decimal where the two
        # engines' rounding rules diverge (verify-skill rule); the
        # micro-unit integer is the safe cross-engine carrier
        F.col("__bq").alias("best_sim_micros"),
        "n_topk",
        margin.alias("margin"),
        (margin > threshold).alias("accepted"),
    )


def prototypicality(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    keep_num: int = 1,
    keep_den: int = 4,
) -> DataFrame:
    """SSL-prototype scoring — the second stage of the D4 recipe
    (Tirumala et al. 2023, arXiv:2308.12284: SemDeDup, then drop the
    most PROTOTYPICAL points, the ones nearest their cluster
    centroid, because they carry the least marginal information):
    per sign-bucket cluster, each member's cosine similarity to the
    cluster centroid, its rank (1 = most prototypical), and the
    ``keep_num/keep_den`` top-fraction flag a D4 pruning pass drops.

    Determinism: components quantize to round-half-up 1e-6 integers
    FIRST, so per-(bucket, dim) centroid sums are BIGINT-exact in any
    accumulation order and each centroid component is one division;
    the cosine folds in index order and ROUNDS to 6 before ranking
    with an id tie-break (the k-center rule), so the rank trajectory
    replays across engines.  The prototype cut uses pure integer math:
    rank <= (n*keep_num + keep_den - 1) div keep_den = ceil(n*frac).

    Shape: scan-stage quantize + bucket, one narrow (bucket, dim,
    val) shuffle for centroid sums (map-side combined scalars, never
    whole vectors), centroid table (≤ 2^bits rows) broadcast-joined
    back, one bucket-keyed window for the rank.  At 100 TB raise
    ``bits`` so buckets stay bounded, exactly like
    :func:`semantic_dedup`.

    Returns (id, bucket, n_bucket, proto_score, proto_rank,
    is_prototype)."""
    from pyspark.sql import Window

    from kevinlang_spark.functions.vectors import cosine_similarity

    if keep_num < 0 or keep_den < 1:
        raise ValueError(
            f"invalid keep fraction {keep_num}/{keep_den}"
        )
    v = F.col(vec_col)
    base = df.where(v.isNotNull()).select(
        F.col(id_col).alias("id"),
        sign_bucket(v, bits).alias("bucket"),
        F.transform(
            v,
            lambda x: F.floor(
                x.cast("double") * F.lit(1000000.0) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("qv"),
    ).localCheckpoint(eager=True)  # feeds centroid sums AND the score join
    exploded = base.select(
        "bucket", F.posexplode(F.col("qv")).alias("pos", "val")
    )
    per_dim = exploded.groupBy("bucket", "pos").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    cent0 = per_dim.groupBy("bucket").agg(
        F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("__ps"),
        F.max("n").alias("n_bucket"),
    )
    cent = cent0.select(
        "bucket",
        "n_bucket",
        F.transform(
            F.col("__ps"), lambda p: p["s"] / F.col("n_bucket")
        ).alias("cent"),
    )
    scored = base.join(F.broadcast(cent), "bucket").select(
        "id",
        "bucket",
        "n_bucket",
        F.round(
            cosine_similarity(F.col("qv"), F.col("cent")), 6
        ).alias("proto_score"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("proto_score"), F.asc("id")
    )
    ranked = scored.select(
        "id", "bucket", "n_bucket", "proto_score",
        F.row_number().over(w).alias("proto_rank"),
    )
    cut = F.expr(
        f"(n_bucket * {int(keep_num)} + {int(keep_den)} - 1) "
        f"div {int(keep_den)}"
    )
    return ranked.select(
        "id", "bucket", "n_bucket", "proto_score", "proto_rank",
        (F.col("proto_rank") <= cut).alias("is_prototype"),
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    n_iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    true-centroid clustering the D4/SemDeDup recipes assume upstream
    (sign buckets approximate it; this is the real fixed-iteration
    fit).  Initialization is the k smallest-id vectors (engine-
    reproducible, no RNG); each of the ``n_iters`` rounds assigns
    every vector to its nearest centroid (squared L2 in quantized
    units, ROUNDED before the argmin with a cluster-index tie-break —
    the k-center determinism rule) and recomputes centroids from
    BIGINT-exact per-(cluster, dim) sums of the 1e-6-quantized
    components, so the whole trajectory replays bit-for-bit on both
    engines.  Clusters that lose all members drop out (standard Lloyd
    behavior on fixed seeds).

    Shape per round: the ≤ k-row centroid table collapses to ONE row
    and broadcasts (reviewed scalar BNLJ); assignment is an in-row
    O(k·dim) fold in the scan stage; the update is one narrow
    (cluster, dim) integer-sum shuffle — map-side combined scalars,
    never whole vectors.  Rounds localCheckpoint to truncate lineage
    (the pagerank rule).

    Returns (id, cluster, dist) after the final assignment, dist in
    original (unquantized) squared-L2 units rounded to 6."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1 (got {n_iters})")
    v = F.col(vec_col)
    base = (
        df.where(v.isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                v,
                lambda x: F.floor(
                    x.cast("double") * F.lit(1000000.0) + F.lit(0.5)
                ).cast("bigint"),
            ).alias("qv"),
        )
        .localCheckpoint(eager=True)
    )
    seeds = base.orderBy("id").limit(int(k))
    cents = seeds.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("id", "qv"))
            ),
            lambda s, i: F.struct(
                i.alias("idx"),
                F.transform(
                    s["qv"], lambda x: x.cast("double")
                ).alias("cent"),
            ),
        ).alias("cs")
    )

    def assign(frame):
        """frame(id, qv) × 1-row cents → (id, qv, cluster, dist)."""
        joined = frame.crossJoin(F.broadcast(cents))
        qv = F.col("qv")
        scored = F.transform(
            F.col("cs"),
            lambda c: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            qv,
                            c["cent"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ).alias("d"),
                c["idx"].alias("i"),
            ),
        )
        staged = joined.select("id", "qv", scored.alias("__sc"))
        best = F.array_min(F.col("__sc"))
        return staged.select(
            "id",
            "qv",
            best["i"].alias("cluster"),
            best["d"].alias("__dq"),
        )

    for _ in range(int(n_iters) - 1):
        assigned = assign(base)
        per_dim = (
            assigned.select(
                "cluster", F.posexplode(F.col("qv")).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        )
        percl = per_dim.groupBy("cluster").agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias(
                "__ps"
            ),
            F.max("n").alias("__n"),
        )
        newc = percl.select(
            "cluster",
            F.transform(
                F.col("__ps"), lambda p: p["s"] / F.col("__n")
            ).alias("cent"),
        )
        cents = newc.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cluster").alias("idx"),
                        F.col("cent").alias("cent"),
                    )
                )
            ).alias("cs")
        )
    final = assign(base)
    return final.select(
        "id",
        "cluster",
        F.round(F.col("__dq") / F.lit(1e12), 6).alias("dist"),
    )
