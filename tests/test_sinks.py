"""Write-side scale features: partitioned output, bucketed join without
shuffle, salted-join helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kevinlang_spark.plans import executed_plan
from kevinlang_spark.sources import sinks
from kevinlang_spark.sources.parquet import write_bucketed


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_part")
    sinks.write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    plan = executed_plan(back)
    # partition filter handled at the file index, not as a data filter
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus" in plan.split("PartitionFilters")[1][:120]
    want = orders.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == want


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    # warehouse dir is set session-wide in conftest (static conf)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(orders, "orders_b", ["o_custkey"], 8, sort_cols=["o_custkey"])
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "cust_b", ["o_custkey"], 8,
        sort_cols=["o_custkey"],
    )
    a = spark.table("orders_b")
    b = spark.table("cust_b")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_custkey")
        joined.collect()
        plan = executed_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_salted_join_correctness(spark, sf_dir):
    """Salted fact + exploded dim join equals the plain join."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    nation_like = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey").distinct().limit(50)
        .withColumn("w", F.lit(1))
    )
    plain = li.join(nation_like, "l_orderkey").count()
    fact = sinks.salted(li, "l_orderkey", 8)
    dim = sinks.explode_salt(nation_like, 8)
    got = fact.join(dim, ["l_orderkey", "__salt"]).count()
    # salting must not lose or duplicate rows... but fact salt is random per
    # row and dim covers ALL salts → exact same multiset of matches
    assert got == plain


def test_lsh_index_roundtrip_prunes(spark, sf_dir, tmp_path):
    """build_lsh_index → partitionBy(bucket) dirs on disk; a probe reads
    only the probed buckets' files and matches the in-memory ANN."""
    import os

    from kevinlang_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "lsh_idx")
    sim.build_lsh_index(emb, idx, n_planes=4)
    bucket_dirs = [d for d in os.listdir(idx) if d.startswith("bucket=")]
    assert len(bucket_dirs) > 2  # genuinely partitioned

    query = [float(v) for v in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    got = sim.ann_topk_lsh_indexed(
        spark, idx, query, k=5, n_planes=4, probe_hamming=1
    )
    mem = sim.ann_topk_lsh(emb, query, k=5, n_planes=4, probe_hamming=1)
    assert [(r["vec_id"], round(r["sim"], 6)) for r in got.collect()] == [
        (r["vec_id"], round(r["sim"], 6)) for r in mem.collect()
    ]
    # pruning: the bucket filter must land in PartitionFilters (file-index
    # level — whole directories skipped), not a post-scan data filter
    probed = spark.read.parquet(idx).where(F.col("bucket").isin([0, 1]))
    probed.collect()
    plan = executed_plan(probed)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:160]
    assert "bucket" in pf, plan
    # and the pruned scan must actually touch fewer FILES than the index
    # holds — runtime input_file_name() counts, not just plan text
    # (DataFrame.inputFiles() ignores partition filters, so count the
    # files each scan really reads during execution)
    def files_read(frame):
        return frame.select(
            F.input_file_name().alias("f")
        ).distinct().count()

    total_files = files_read(spark.read.parquet(idx))
    probed_files = files_read(spark.read.parquet(idx).where(F.col("bucket").isin([0, 1])))
    assert 0 < probed_files < total_files, (probed_files, total_files)
    # the 1-bit multiprobe reads |probe| = 5 of the 16 possible buckets
    pruned_cand = spark.read.parquet(idx).where(
        F.col("bucket").isin([0, 1, 2, 4, 8])
    )
    assert 0 < files_read(pruned_cand) < total_files


def test_ivf_index_roundtrip_prunes(spark, sf_dir, tmp_path):
    import os

    from kevinlang_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_idx")
    sim.build_ivf_index(emb, idx, nlist=8)
    cell_dirs = [d for d in os.listdir(f"{idx}/vectors") if d.startswith("cell=")]
    assert len(cell_dirs) > 2

    query = [float(v) for v in emb.where(F.col("vec_id") == 2).first()["embedding"]]
    # exhaustive probe == exact top-k
    got = sim.ann_topk_ivf_indexed(spark, idx, query, k=5, nprobe=8)
    exact = sim.cosine_topk(emb, query, k=5)
    assert [(r["vec_id"], round(r["sim"], 6)) for r in got.collect()] == [
        (r["vec_id"], round(r["sim"], 6)) for r in exact.collect()
    ]
    # pruned probe touches fewer partition dirs than exist
    pruned = sim.ann_topk_ivf_indexed(spark, idx, query, k=5, nprobe=2)
    assert pruned.count() == 5


def test_minhash_index_roundtrip(spark, sf_dir, tmp_path):
    """write_minhash_index → read-back pipeline equals the in-memory
    pipeline exactly (same family, same pairs)."""
    from kevinlang_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "mh_idx")
    dedup.write_minhash_index(docs, idx)
    from_index = dedup.minhash_dedup_pairs_indexed(spark, idx, threshold=0.8)
    in_mem = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])
    assert sorted(map(key, from_index.collect())) == sorted(
        map(key, in_mem.collect())
    )


def test_minhash_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """append_minhash_index on a new slice == full rebuild on the union
    (minhash has no trained state, so the equality is EXACT)."""
    from pyspark.sql import functions as F

    from kevinlang_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "mh_grow")
    dedup.write_minhash_index(base, idx)
    dedup.append_minhash_index(new, idx)
    grown = dedup.minhash_dedup_pairs_indexed(spark, idx, threshold=0.8)
    full = str(tmp_path / "mh_full")
    dedup.write_minhash_index(docs, full)
    rebuilt = dedup.minhash_dedup_pairs_indexed(spark, full, threshold=0.8)
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])
    assert sorted(map(key, grown.collect())) == sorted(
        map(key, rebuilt.collect())
    )


def test_minhash_index_append_guards_family_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Appending with a mismatched hash family must raise (a seed
    mismatch is invisible in the data — same widths, different values);
    re-appending the same slice must be a no-op, not a double-count."""
    import pytest
    from pyspark.sql import functions as F

    from kevinlang_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "mh_guard")
    dedup.write_minhash_index(base, idx)
    with pytest.raises(ValueError, match="hash family"):
        dedup.append_minhash_index(new, idx, seed=7)
    with pytest.raises(ValueError, match="hash family"):
        dedup.append_minhash_index(new, idx, num_hashes=64)
    dedup.append_minhash_index(new, idx)
    n_sh = spark.read.parquet(f"{idx}/shingles").count()
    n_sig = spark.read.parquet(f"{idx}/signatures").count()
    # retried append (e.g. after a partial failure) changes nothing
    dedup.append_minhash_index(new, idx)
    assert spark.read.parquet(f"{idx}/shingles").count() == n_sh
    assert spark.read.parquet(f"{idx}/signatures").count() == n_sig


def test_minhash_index_append_corrupt_sidecar_raises(spark, sf_dir, tmp_path):
    """An unreadable ``params`` sidecar must fail the append, not switch
    the hash-family guard off; only a missing sidecar means a pre-sidecar
    index.  Nothing may be appended."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from kevinlang_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "mh_corrupt")
    dedup.write_minhash_index(base, idx, seed=7)
    for part in glob.glob(f"{idx}/params/*.parquet"):
        with open(part, "wb") as f:
            f.write(b"not a parquet file")
    for crc in glob.glob(f"{idx}/params/.*.crc"):
        os.remove(crc)  # let the reader see the garbage, not a checksum miss
    n_sh = spark.read.parquet(f"{idx}/shingles").count()
    n_sig = spark.read.parquet(f"{idx}/signatures").count()
    # the read error names the sidecar file it could not read
    with pytest.raises(Exception, match="mh_corrupt/params/"):
        dedup.append_minhash_index(new, idx)
    assert spark.read.parquet(f"{idx}/shingles").count() == n_sh
    assert spark.read.parquet(f"{idx}/signatures").count() == n_sig


# --------------------------------------------------------------------- #
# training shards + manifest
# --------------------------------------------------------------------- #


def test_training_shards_roundtrip_verifies(spark, sf_dir, tmp_path):
    from kevinlang_spark.sources import sinks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    path = str(tmp_path / "corpus")
    sinks.write_training_shards(docs, path, n_shards=8)
    rep = sinks.verify_shards(spark, path).collect()
    assert len(rep) == 8
    assert all(r.ok for r in rep)
    assert sum(r.n_actual for r in rep) == docs.count()
    # deterministic: rewriting yields the identical manifest
    m1 = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/_manifest").collect()
    )
    sinks.write_training_shards(docs, path, n_shards=8)
    m2 = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/_manifest").collect()
    )
    assert m1 == m2


def test_training_shards_detect_tampering(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kevinlang_spark.sources import sinks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    path = str(tmp_path / "corpus")
    sinks.write_training_shards(docs, path, n_shards=4)
    # corrupt ONE shard: drop a row and rewrite that partition dir
    # (materialize driver-side first — a lazy self-overwrite would read
    # the files it is deleting)
    shard2 = spark.read.parquet(f"{path}/data/shard=2")
    rows = shard2.collect()
    tampered = spark.createDataFrame(rows[1:], shard2.schema)
    tampered.write.mode("overwrite").parquet(f"{path}/data/shard=2")
    rep = {r.shard: r.ok for r in sinks.verify_shards(spark, path).collect()}
    assert rep[2] is False
    assert all(ok for s, ok in rep.items() if s != 2)


def test_training_shards_are_balanced_and_stable(spark, sf_dir, tmp_path):
    """Hash sharding balances within ~3x and assigns each doc the same
    shard regardless of n_shards' write run (pure function of id)."""
    from kevinlang_spark.sources import sinks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    path = str(tmp_path / "corpus")
    sinks.write_training_shards(docs, path, n_shards=8)
    counts = [
        r.n_actual for r in sinks.verify_shards(spark, path).collect()
    ]
    assert min(counts) > 0 and max(counts) <= 3 * min(counts)


# --------------------------------------------------------------------- #
# copy-on-write erasure
# --------------------------------------------------------------------- #


def test_erase_copy_on_write_removes_keys_only(spark, sf_dir, tmp_path):
    import os

    from kevinlang_spark.sources import sinks

    path = str(tmp_path / "ds")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    # hash-partition on the key so each erase key lives in few files
    ev.repartition(16, "user_id").write.parquet(path)
    erase = spark.createDataFrame([(1,), (2,), (3,)], "user_id bigint")
    before = spark.read.parquet(path)
    n_before = before.count()
    n_victims = before.where("user_id IN (1,2,3)").count()
    assert n_victims > 0
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    stats = sinks.erase_keys_copy_on_write(spark, path, erase, "user_id")
    after = spark.read.parquet(path)
    assert after.where("user_id IN (1,2,3)").count() == 0
    assert after.count() == n_before - n_victims
    assert stats["rows_deleted"] == n_victims
    # files without the erased keys were not rewritten
    untouched = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and f in mtimes
        and os.path.getmtime(os.path.join(path, f)) == mtimes[f]
    ]
    assert len(untouched) >= stats["files_total"] - stats["files_rewritten"] > 0


def test_erase_copy_on_write_noop_without_matches(spark, sf_dir, tmp_path):
    from kevinlang_spark.sources import sinks

    path = str(tmp_path / "ds")
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(path)
    erase = spark.createDataFrame([(99999,)], "n_nationkey bigint")
    stats = sinks.erase_keys_copy_on_write(spark, path, erase, "n_nationkey")
    assert stats["files_rewritten"] == 0 and stats["rows_deleted"] == 0
    assert spark.read.parquet(path).count() == 25
