"""Dedup extension operators: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kevinlang_spark.operators import dedup
from conftest import _jvm_commands


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents + exact copies + near-copies with known ids."""
    base = docs.limit(20).select("doc_id", "text").repartition(8)
    exact = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token tail")).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


def test_dedup_exact_by_text(docs_with_dups):
    out = dedup.dedup_exact_by_text(docs_with_dups)
    # 20 distinct originals + 20 near-copies (different text) = 40 groups
    assert out.count() == 40
    # representative is the MIN doc_id → originals win over +10000 copies
    ids = {r["doc_id"] for r in out.collect()}
    assert all(i < 10000 or i >= 20000 for i in ids)


def test_minhash_finds_exact_and_near_dups(docs_with_dups):
    pairs = dedup.minhash_dedup_pairs(docs_with_dups, threshold=0.7)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every exact copy pair must be found (jaccard 1.0)
    for i in range(20):
        assert (i, i + 10000) in got, f"missing exact pair {i}"
    # near pairs (3-token suffix on ~40+ token docs) should mostly surface
    near_found = sum((i, i + 20000) in got for i in range(20))
    assert near_found >= 15, f"only {near_found}/20 near pairs found"


def test_minhash_reported_pairs_are_truly_similar(docs):
    """Every pair the pipeline reports must have EXACT shingle-jaccard ≥
    threshold (the corpus contains planted near-dups; verify the verifier)."""
    sample = docs.limit(100).repartition(8)
    pairs = dedup.minhash_dedup_pairs(sample, threshold=0.9).collect()
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}

    def shingles(t, n=3):
        toks = [w for w in __import__("re").split(r"[^a-z0-9]+", t.lower()) if w]
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    for p in pairs:
        a, b = shingles(texts[p["id_a"]]), shingles(texts[p["id_b"]])
        j = len(a & b) / len(a | b)
        assert j >= 0.9, f"pair ({p['id_a']},{p['id_b']}) reported {p['jaccard']} but true {j}"
        assert p["jaccard"] == pytest.approx(j, abs=1e-3)


def _pairs(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_lsh_candidates_default_signatures_match_shingle_sig_df(docs):
    """With no ``signatures``, candidates are banded from the
    ``shingle_sig_df`` signatures, so both calls return the same pairs."""
    _, sig = dedup.shingle_sig_df(docs, "doc_id", "text", num_hashes=32)
    default = _pairs(dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16))
    given = _pairs(
        dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16, signatures=sig)
    )
    assert default, "the corpus has planted near-dups"
    assert default == given


def test_jaccard_verify_default_shingles_match_hashed(docs):
    """With no ``shingles``, verify intersects the ``shingle_sig_df``
    hash sets: the same pairs and scores as passing them in."""
    sh, sig = dedup.shingle_sig_df(docs, "doc_id", "text", num_hashes=32)
    cands = dedup.minhash_lsh_candidates(None, num_hashes=32, bands=16, signatures=sig)
    hashed = sh.select("id", F.col("shh").alias("sh"))
    for threshold in (0.8, 0.5):
        default = _pairs(dedup.jaccard_verify(docs, cands, threshold=threshold))
        given = _pairs(
            dedup.jaccard_verify(docs, cands, threshold=threshold, shingles=hashed)
        )
        assert default, threshold
        assert default == given, threshold


@pytest.fixture(scope="module")
def sig_docs(spark, docs):
    """40 corpus docs plus a NULL, an empty, a punctuation-only and a
    1-token text."""
    edge = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "!!! ..."), (900004, "word")],
        "doc_id long, text string",
    )
    return docs.select("doc_id", "text").limit(40).unionByName(edge)


@pytest.mark.parametrize("num_hashes", [32, 64, 128])
def test_signature_matches_python_oracle(sig_docs, num_hashes):
    """Each signature value is min over the row's shingle hashes of
    ``(a·(h mod M) + b) mod M`` for the seeded ``(a, b)`` family,
    recomputed here in Python; an empty hash set signs NULL."""
    sh, sig = dedup.shingle_sig_df(sig_docs, num_hashes=num_hashes)
    shh = {r["id"]: r["shh"] for r in sh.collect()}
    got = {r["id"]: r["sig"] for r in sig.collect()}
    m = dedup.MERSENNE
    params = dedup._hash_params(num_hashes, 42)
    assert got.keys() == shh.keys()
    for i, hs in shh.items():
        want = [min((a * (h % m) + b) % m for h in hs) for a, b in params] if hs else None
        assert got[i] == want, i
    assert shh[900001] == shh[900002] == shh[900003] == []
    assert got[900001] is None and got[900002] is None
    assert len(shh[900004]) == 1 and len(got[900004]) == num_hashes


def _column_band_keys(sig_df, bands: int, rows: int):
    """The Column-API banding formula ``band_keys`` replaced."""
    return (
        sig_df.where(F.col("sig").isNotNull())
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    F.transform(
                                        F.slice("sig", b * rows + 1, rows),
                                        lambda v: v.cast("string"),
                                    ),
                                )
                            ).alias("key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        )
        .select("id", "bk.band", "bk.key")
    )


@pytest.mark.parametrize("num_hashes,bands", [(32, 16), (64, 16), (128, 32)])
def test_band_keys_match_column_formula(sig_docs, num_hashes, bands):
    """SQL-text band keys equal the Column-API formula, also on a frame
    whose extra columns ``h`` and ``v`` share the lambda variables'
    names: the lambda variable shadows the column."""
    _, sig = dedup.shingle_sig_df(sig_docs, num_hashes=num_hashes)
    sig = sig.select("*", F.lit(7).cast("bigint").alias("h"), F.lit("x").alias("v"))
    rows = num_hashes // bands
    got = _pairs(dedup.band_keys(sig, bands, rows))
    assert len(got) == 41 * bands  # NULL, empty and "!!! ..." have no keys
    assert got == _pairs(_column_band_keys(sig, bands, rows))


def test_minhash_plan_build_cost(monkeypatch, sig_docs):
    """Building the plan costs one JVM expression per builder, not one
    Py4J round trip per Column node: ``band_keys`` sends as many
    commands at 32 bands as at 16, and building ``minhash_dedup_pairs``
    at its defaults (its checkpoint job included) stays under 2,000
    (the Column-API builders sent about 6,300)."""
    _, sig = dedup.shingle_sig_df(sig_docs, num_hashes=128)
    dedup.band_keys(sig, 16, 8)  # warm Py4J's member lookups
    at16 = _jvm_commands(monkeypatch, lambda: dedup.band_keys(sig, 16, 8))
    at32 = _jvm_commands(monkeypatch, lambda: dedup.band_keys(sig, 32, 4))
    assert 0 < at16 == at32
    built = _jvm_commands(monkeypatch, lambda: dedup.minhash_dedup_pairs(sig_docs))
    assert 0 < built < 2_000


def test_bad_band_split_raises_before_any_spark_job(spark, docs):
    """A ``num_hashes``/``bands`` split that cannot band raises before the
    signature checkpoint or the index read starts a job."""
    from test_csv_cache import _jobs

    def raises(call):
        with pytest.raises(ValueError, match="multiple of"):
            call()

    for call in (
        lambda: dedup.minhash_lsh_candidates(docs, bands=7),
        lambda: dedup.minhash_probe_index(spark, "/nonexistent", docs, bands=0),
    ):
        assert _jobs(spark, lambda: raises(call))[0] == 0


def test_simhash_vectorized_matches_expression(spark, docs):
    """The numpy pandas-UDF signature must equal the pure-expression
    simhash bit for bit."""
    from pyspark.sql import functions as F

    sample = docs.limit(30).repartition(4)
    expr = {
        r["doc_id"]: r["s"]
        for r in sample.select("doc_id", dedup.simhash(F.col("text")).alias("s")).collect()
    }
    vec = {
        r["id"]: r["sh"]
        for r in dedup.simhash_signatures_df(sample).collect()
    }
    assert expr == vec


def test_simhash_deterministic_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different content about spark dataframes and scale"),
        ],
        ["doc_id", "text"],
    )
    sh = df.select("doc_id", dedup.simhash(F.col("text")).alias("s")).collect()
    by_id = {r["doc_id"]: r["s"] for r in sh}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    pairs = dedup.simhash_neardup_pairs(df, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2)
    assert p["jaccard"] == pytest.approx(3 / 5)


def test_lsh_bucket_cap_skips_mega_clusters(spark):
    """A cluster of identical docs above the cap must produce NO candidate
    pairs (quadratic-blowup guard); below the cap it produces all of them."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, "the same exact document body repeated for everyone here") for i in range(12)],
        ["doc_id", "text"],
    ).repartition(4)
    capped = dedup.minhash_lsh_candidates(base, max_bucket_size=10)
    assert capped.count() == 0
    uncapped = dedup.minhash_lsh_candidates(base, max_bucket_size=None)
    assert uncapped.count() == 12 * 11 // 2


def test_lsh_shuffle_is_bounded(docs):
    """The candidate join must shuffle band keys, not an O(n^2) cross
    product: plan contains a SortMergeJoin/ShuffledHashJoin on band+key,
    never CartesianProduct/BroadcastNestedLoopJoin."""
    plan = (
        dedup.minhash_lsh_candidates(docs.limit(200))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_md5_token_hash_cross_engine_parity(spark):
    """md5_token_hash must equal DuckDB's CAST('0x'||substr(md5(t),1,15)
    AS BIGINT) — the property the q_simhash_pairs oracle relies on."""
    import duckdb
    from pyspark.sql import functions as F

    words = ["hello", "world", "a", "tok123", "the", "99bottles"]
    df = spark.createDataFrame([(w,) for w in words], "t string")
    got = {
        r["t"]: r["hv"]
        for r in df.select("t", dedup.md5_token_hash(F.col("t")).alias("hv")).collect()
    }
    con = duckdb.connect()
    for w in words:
        want = con.execute(
            "SELECT CAST('0x' || substr(md5(?), 1, 15) AS BIGINT)", [w]
        ).fetchone()[0]
        assert got[w] == want, w


def test_simhash_md5_family_pairs_match_xxhash_shape(spark, docs):
    """The md5 family plugs into the same pipeline: near-identical docs
    still pair at low Hamming, and results are deterministic."""
    out1 = dedup.simhash_neardup_pairs(
        docs, max_hamming=3, hash_expr=dedup.md5_token_hash
    )
    rows1 = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in out1.collect())
    out2 = dedup.simhash_neardup_pairs(
        docs, max_hamming=3, hash_expr=dedup.md5_token_hash
    )
    rows2 = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in out2.collect())
    assert rows1 == rows2
    assert len(rows1) > 0


def test_neardup_components_labels_chains_and_cliques(spark):
    # two components: a 4-node chain 1-2-3-4 and a triangle 10-11-12;
    # node 99 appears in no pair and must be absent from the labeling
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    comps = {r["id"]: r["comp"] for r in dedup.neardup_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_neardup_components_long_chain_converges(spark):
    # a 12-node path stresses multi-round propagation (diameter 11)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    comps = dedup.neardup_components(pairs).collect()
    assert {r["comp"] for r in comps} == {0}
    assert len(comps) == 13


def test_dedup_keep_representatives(spark, docs_with_dups):
    pairs = dedup.minhash_dedup_pairs(docs_with_dups, threshold=0.7)
    kept = dedup.dedup_keep_representatives(docs_with_dups, pairs)
    ids = {r["doc_id"] for r in kept.collect()}
    # expected = min-id of each connected component + all unpaired docs,
    # computed with a reference union-find on the (tiny) collected pairs
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pair_rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    for a, b in pair_rows:
        parent[find(a)] = find(b)
    groups: dict[int, set[int]] = {}
    for n in parent:
        groups.setdefault(find(n), set()).add(n)
    all_ids = {r["doc_id"] for r in docs_with_dups.collect()}
    expected = (all_ids - set(parent)) | {min(g) for g in groups.values()}
    assert ids == expected
    # and no exact copy can ever be a representative (its original has a
    # smaller id and jaccard 1.0 guarantees the pair edge exists)
    assert not any(10000 <= i < 20000 for i in ids)


# --------------------------------------------------------------------- #
# jaccard_prefix_pairs (PPJoin-style prefix filtering)
# --------------------------------------------------------------------- #


def test_jaccard_prefix_complete_vs_brute_force(spark):
    """Prefix filtering must lose NOTHING: every pair with set-Jaccard
    >= t appears, with the exact score — checked against brute force on
    unigram sets where many pairs sit right at the threshold."""
    import itertools

    from kevinlang_spark.operators.dedup import jaccard_prefix_pairs

    docs = [
        (1, "a b c d e"),
        (2, "a b c d f"),      # 4/6 = 0.667 with 1
        (3, "a b c d e"),      # 1.0 with 1
        (4, "a b c d e f"),    # 5/6 = 0.833 with 1 and 3
        (5, "x y z w v"),
        (6, "x y z w v u"),    # 5/6 with 5
        (7, "q"),
        (8, "q"),              # 1.0 with 7 (single-token edge)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_prefix_pairs(df, threshold=0.8).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(docs, 2):
        ta, tb = set(a.split()), set(b.split())
        jac = len(ta & tb) / len(ta | tb)
        if jac >= 0.8:
            want[(i, j)] = round(jac, 6)
    assert got == want
    assert (7, 8) in got  # prefix of a 1-token set is the token itself


def test_jaccard_prefix_skips_stopword_keys(spark):
    """The candidate join must key only on prefix (rarest) tokens: a
    corpus-wide shared token ('the') sorts last and never explodes, so
    docs sharing ONLY stopwords produce zero candidates."""
    from kevinlang_spark.operators.dedup import jaccard_prefix_pairs

    docs = [(i, f"the unique{i} word{i} token{i}") for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = jaccard_prefix_pairs(df, threshold=0.7).collect()
    assert out == []


def test_keep_representatives_rep_by_longest(spark):
    """rep_by elects the max-score member per component (ties -> min id);
    unpaired docs always survive."""
    from kevinlang_spark.operators.dedup import dedup_keep_representatives

    docs = spark.createDataFrame(
        [
            (1, 100),  # comp {1,2,3}: 2 is longest -> keep 2
            (2, 500),
            (3, 200),
            (7, 50),   # unpaired -> survives
            (8, 10),   # comp {8,9}: tie on score -> min id 8 survives
            (9, 10),
        ],
        "doc_id bigint, n_chars bigint",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a bigint, id_b bigint"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_keep_representatives(
            docs, pairs, rep_by="n_chars"
        ).collect()
    )
    assert kept == [2, 7, 8]


def test_keep_representatives_default_still_min_id(spark):
    from kevinlang_spark.operators.dedup import dedup_keep_representatives

    docs = spark.createDataFrame(
        [(1, 100), (2, 500), (7, 50)], "doc_id bigint, n_chars bigint"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    kept = sorted(
        r.doc_id for r in dedup_keep_representatives(docs, pairs).collect()
    )
    assert kept == [1, 7]


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc pasted into a long one: containment ~1, Jaccard tiny."""
    from kevinlang_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma"
    long_ = short + " " + " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated words entirely")],
        "doc_id bigint, text string",
    )
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert got == {(1, 2): 1.0}
    # the same pair is invisible to Jaccard at any useful threshold
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0


def test_containment_is_directional(spark):
    from kevinlang_spark.operators.dedup import containment_pairs

    # identical token SETS -> both directions emitted at 1.0
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a a")], "doc_id bigint, text string"
    )
    got = sorted(
        (r.contained_id, r.container_id)
        for r in containment_pairs(df, threshold=0.9).collect()
    )
    assert got == [(1, 2), (2, 1)]


def test_source_overlap_exact_mode(spark):
    from kevinlang_spark.operators.dedup import source_overlap_matrix

    df = spark.createDataFrame(
        [
            ("A", 1, "Shared doc!"),
            ("B", 2, "shared DOC"),   # same normalized content as A's
            ("A", 3, "only in a"),
            ("B", 4, "only in b"),
            ("B", 5, "shared doc"),   # dup within B: distinct fp counted once
        ],
        "source string, doc_id bigint, text string",
    )
    (r,) = source_overlap_matrix(df).collect()
    assert (r.source_a, r.source_b) == ("A", "B")
    assert r.n_shared == 1 and r.n_a == 2 and r.n_b == 2
    assert r.overlap == 0.5


def test_source_overlap_ngram_catches_partial_reuse(spark):
    from kevinlang_spark.operators.dedup import source_overlap_matrix

    quote = "one two three four"
    df = spark.createDataFrame(
        [
            ("A", 1, f"intro {quote} outro alpha"),
            ("B", 2, f"different beginning {quote} different end"),
        ],
        "source string, doc_id bigint, text string",
    )
    # whole docs differ -> exact mode sees nothing
    assert source_overlap_matrix(df).count() == 0
    # the shared 4-gram IS visible at gram granularity
    (r,) = source_overlap_matrix(df, ngram=4).collect()
    assert r.n_shared == 1 and r.overlap > 0
