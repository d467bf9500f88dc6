"""Round-7 verification debt: brute-force parity tests for the three
queries that landed in the r6 end-of-round snapshot without tests
(q_ann_pq, q_bpe_train, q_hard_negatives), plus two registry-wide
guards so the same two failure modes can't recur:

* every ``queries()`` entry must carry an ``oracle_sql()`` entry (or be
  explicitly listed here as rows-only) — r6 wasted three driver window
  slots on ``no_oracle`` errors;
* every query's output schema must be flat (no array/map/struct
  columns) — the driver's pandas canonicalizer crashes on list cells
  (q_quantize_embeddings / q_label_centroids in CORRECTNESS_r06).
"""

from __future__ import annotations

import math
import pathlib
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _round_half_up(x: float, nd: int = 6) -> float:
    """Spark F.round semantics (BigDecimal HALF_UP on the double)."""
    return float(Decimal(x).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


# ---------------------------------------------------------------- PQ --


def _brute_pq_train(rows, m, k, iters):
    """Pure-Python replica of similarity.pq_train's Lloyd loop."""
    dim = len(rows[0][1])
    dsub = dim // m
    seeds = sorted((r for r in rows if r[0] < k), key=lambda r: r[0])
    books = [
        [[float(v) for v in r[1][s * dsub : (s + 1) * dsub]] for r in seeds]
        for s in range(m)
    ]
    for _ in range(iters):
        for s in range(m):
            assign: dict[int, list[list[float]]] = {}
            for _vid, vec in rows:
                sub = [float(v) for v in vec[s * dsub : (s + 1) * dsub]]
                best = min(
                    (
                        (
                            _round_half_up(
                                sum((a - b) * (a - b) for a, b in zip(sub, c))
                            ),
                            j,
                        )
                        for j, c in enumerate(books[s])
                    )
                )
                assign.setdefault(best[1], []).append(sub)
            for j, members in assign.items():
                books[s][j] = [
                    _round_half_up(sum(col) / len(members))
                    for col in zip(*members)
                ]
    return books


def test_pq_train_matches_brute_lloyd(emb):
    from kevinlang_spark.operators.similarity import pq_train

    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    got = pq_train(emb, m=2, k=8, iters=2)
    want = _brute_pq_train(rows, m=2, k=8, iters=2)
    assert len(got) == 2 and all(len(b) == 8 for b in got)
    for s in range(2):
        for j in range(8):
            for a, b in zip(got[s][j], want[s][j]):
                # brute mean sums in one order, Spark avg in another;
                # both round to 6 dp so they agree to the last digit
                assert a == pytest.approx(b, abs=2e-6)


def test_pq_topk_matches_brute_adc(emb):
    """Encode+ADC parity against the SPARK-trained codebooks, so the
    check isolates pq_topk (train parity is the test above)."""
    from kevinlang_spark.operators.similarity import pq_topk, pq_train

    books = pq_train(emb, m=2, k=8, iters=2)
    rows = [(r["vec_id"], list(map(float, r["embedding"]))) for r in emb.collect()]
    query = dict(rows)[3]
    m, k = len(books), len(books[0])
    dsub = len(books[0][0])

    scored = []
    for vid, vec in rows:
        adist = 0.0
        for s in range(m):
            sub = vec[s * dsub : (s + 1) * dsub]
            code = min(
                (
                    (
                        _round_half_up(
                            sum((a - b) * (a - b) for a, b in zip(sub, c))
                        ),
                        j,
                    )
                    for j, c in enumerate(books[s])
                )
            )[1]
            qsub = query[s * dsub : (s + 1) * dsub]
            # pq_topk builds the LUT with Python round() — reuse it
            adist += round(
                sum((a - b) * (a - b) for a, b in zip(qsub, books[s][code])), 6
            )
        scored.append((_round_half_up(adist), vid))
    scored.sort()
    want = scored[:10]

    got = pq_topk(emb, books, query, k_out=10).collect()
    assert [r["vec_id"] for r in got] == [v for _, v in want]
    for r, (d, _) in zip(got, want):
        assert r["adist"] == pytest.approx(d, abs=2e-6)
    # the probe's own row must quantize to the best ADC cell
    assert got[0]["vec_id"] == 3 or 3 in [r["vec_id"] for r in got]


def test_ivfpq_matches_brute(emb):
    """Full IVF-PQ pipeline parity: brute coarse training + cell
    assignment + probe pruning + PQ encode/ADC, reusing the Lloyd
    replica from the pq_train tests."""
    from kevinlang_spark.operators.similarity import ivfpq_topk, pq_train

    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    query = dict(rows)[3]
    nlist, nprobe, m, k, iters = 8, 3, 2, 8, 2

    coarse = _brute_pq_train(rows, m=1, k=nlist, iters=iters)[0]
    books = _brute_pq_train(rows, m=m, k=k, iters=iters)
    # spark trainers must agree with the brute replica first
    spark_coarse = pq_train(emb, m=1, k=nlist, iters=iters)[0]
    for got_c, want_c in zip(spark_coarse, coarse):
        assert got_c == pytest.approx(want_c, abs=2e-6)

    def argmin_cell(v, cents):
        return min(
            (
                (_round_half_up(sum((a - b) * (a - b) for a, b in zip(v, c))), j)
                for j, c in enumerate(cents)
            )
        )[1]

    probe = sorted(
        range(nlist),
        key=lambda j: (
            round(sum((a - b) * (a - b) for a, b in zip(query, coarse[j])), 6),
            j,
        ),
    )[:nprobe]
    dsub = len(books[0][0])
    scored = []
    for vid, vec in rows:
        if argmin_cell(vec, coarse) not in probe:
            continue
        adist = 0.0
        for s in range(m):
            sub = vec[s * dsub : (s + 1) * dsub]
            code = min(
                (
                    (
                        _round_half_up(
                            sum((a - b) * (a - b) for a, b in zip(sub, c))
                        ),
                        j,
                    )
                    for j, c in enumerate(books[s])
                )
            )[1]
            qsub = query[s * dsub : (s + 1) * dsub]
            adist += round(
                sum((a - b) * (a - b) for a, b in zip(qsub, books[s][code])), 6
            )
        scored.append((_round_half_up(adist), vid))
    scored.sort()
    want = scored[:10]

    got = ivfpq_topk(
        emb, query, nlist=nlist, nprobe=nprobe, m=m, k=k, iters=iters, k_out=10
    ).collect()
    assert [r["vec_id"] for r in got] == [v for _, v in want]
    for r, (d, _) in zip(got, want):
        assert r["adist"] == pytest.approx(d, abs=2e-6)


def test_ivfpq_param_guard(emb):
    from kevinlang_spark.operators.similarity import ivfpq_topk

    with pytest.raises(ValueError):
        ivfpq_topk(emb, [0.0] * 64, nlist=8, nprobe=9)
    with pytest.raises(ValueError):
        ivfpq_topk(emb, [0.0] * 64, nprobe=0)


# --------------------------------------------------------------- BPE --


def _brute_bpe(texts, n_merges):
    """Reference BPE (Sennrich 2016) with bpe_train's exact contracts:
    freq-weighted pair counts, (count desc, a asc, b asc) argmax,
    left-to-right non-overlapping merge."""
    import re

    freq: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                freq[w] = freq.get(w, 0) + 1
    vocab = {tuple(w): f for w, f in freq.items()}
    merges = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for toks, f in vocab.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, n))
        new_vocab: dict[tuple[str, ...], int] = {}
        for toks, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def test_bpe_overlapping_merge_is_left_to_right(spark):
    """'aaa' under merge (a,a): left-to-right gives 'aa a', so round 2
    learns (aa, a) — the reference BPE contract."""
    from kevinlang_spark.operators.text import bpe_train

    df = spark.createDataFrame([("aaa",)], "text string")
    got = bpe_train(df, n_merges=2)
    assert got == [(1, "a", "a", 2), (2, "aa", "a", 1)]


def test_bpe_train_matches_brute_reference(spark):
    from kevinlang_spark.operators.text import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest",
        "low lower newest",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_train(df, n_merges=6)
    assert got == _brute_bpe(texts, 6)


def test_bpe_encode_matches_brute(spark):
    """bpe_token_counts under a trained merge table == the brute
    reference encoding applied per document."""
    import re

    from kevinlang_spark.operators.text import bpe_token_counts, bpe_train

    texts = [
        "low low low lower lowest",
        "newest newest new news",
        "wide wider widest low",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=5)

    def encode(word):
        toks = list(word)
        for _, a, b, _ in merges:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    want = {}
    for d, t in enumerate(texts):
        ws = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        want[d] = (len(ws), sum(len(encode(w)) for w in ws))

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(df, merges).collect()
    }
    assert got == want
    # merged common words must compress below their character count
    assert all(n_bpe < sum(map(len, re.findall(r"[a-z0-9]+", texts[d])))
               for d, (_, n_bpe) in got.items())


def test_bpe_merges_df_schema(spark):
    from kevinlang_spark.operators.text import bpe_merges_df

    df = spark.createDataFrame([("aaa bb",)], "text string")
    out = bpe_merges_df(df, n_merges=2)
    assert out.columns == ["merge_rank", "tok_a", "tok_b", "pair_count"]
    assert out.count() == 2


# ---------------------------------------------------- hard negatives --


def test_hard_negatives_matches_brute(emb):
    from kevinlang_spark.operators.similarity import hard_negatives

    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in emb.collect()
    ]
    anchors = [r for r in rows if r[0] < 8]
    want = []
    for qid, qv, qlabel in sorted(anchors):
        qn = math.sqrt(sum(x * x for x in qv))
        cand = []
        for vid, v, label in rows:
            if label == qlabel:
                continue
            n = math.sqrt(sum(x * x for x in v))
            sim = (
                None
                if n == 0 or qn == 0
                else sum(a * b for a, b in zip(v, qv)) / (n * qn)
            )
            cand.append((vid, sim))
        cand.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        for rank, (vid, sim) in enumerate(cand[:5], start=1):
            want.append((qid, vid, rank, sim))

    got = hard_negatives(emb, n_anchors=8, k=5).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["vec_id"], r["rank"]) for r in got] == [
        (q, v, rk) for q, v, rk, _ in want
    ]
    for r, (_, _, _, sim) in zip(got, want):
        assert r["sim"] == pytest.approx(sim, abs=1e-4)


# --------------------------------------------- truncation recall --


def test_truncation_recall_matches_brute(emb):
    from kevinlang_spark.operators.similarity import truncation_recall

    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]

    def topk(qv, d, k=10):
        qs = qv[:d]
        qn = math.sqrt(sum(x * x for x in qs))
        scored = []
        for vid, v in rows:
            vs = v[:d]
            n = math.sqrt(sum(x * x for x in vs))
            s = None if n == 0 or qn == 0 else sum(a * b for a, b in zip(vs, qs)) / (n * qn)
            scored.append((vid, s))
        scored.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        return {vid for vid, _ in scored[:k]}

    dim = len(rows[0][1])
    want = {}
    for qid, qv in rows:
        if qid >= 4:
            continue
        full = topk(qv, dim)
        for d in (16, 32):
            n = len(topk(qv, d) & full)
            want[(qid, d)] = (n, round(n / 10, 4))

    got = {
        (r["qid"], r["dim"]): (r["n_overlap"], r["recall"])
        for r in truncation_recall(emb, dims=(16, 32), n_probes=4, k=10).collect()
    }
    assert got == want
    # the probe's own row tops every ranking, so overlap is never zero
    assert all(n >= 1 for n, _ in got.values())


def test_truncation_recall_param_guards(emb):
    from kevinlang_spark.operators.similarity import truncation_recall

    with pytest.raises(ValueError):
        truncation_recall(emb, dims=(0,))
    with pytest.raises(ValueError):
        truncation_recall(emb, dims=(64,))  # must be a strict prefix
    with pytest.raises(ValueError):
        truncation_recall(emb, n_probes=0)


# ------------------------------------------ JL / class weights --


def test_jl_distortion_matches_brute(emb):
    from kevinlang_spark.operators.similarity import _planes, jl_distortion

    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    dim = len(next(iter(rows.values())))
    planes = _planes(dim, 16, 11)
    scale = 1.0 / math.sqrt(16)

    def project(v):
        return [sum(a * b for a, b in zip(v, p)) * scale for p in planes]

    got = {
        (r["id_a"], r["id_b"]): r["ratio"]
        for r in jl_distortion(emb, out_dim=16, seed=11, n_sample=16).collect()
    }
    ids = sorted(i for i in rows if i < 16)
    assert set(got) == {(a, b) for a in ids for b in ids if a < b}
    for (a, b), ratio in got.items():
        va, vb = rows[a], rows[b]
        dorig = sum((x - y) ** 2 for x, y in zip(va, vb))
        ya, yb = project(va), project(vb)
        dproj = sum((x - y) ** 2 for x, y in zip(ya, yb))
        assert ratio == pytest.approx(dproj / dorig, abs=1e-4)
    # JL: ratios concentrate around 1 — mean within a loose band
    vals = list(got.values())
    assert 0.5 < sum(vals) / len(vals) < 1.6


def test_jl_distortion_param_guards(emb):
    from kevinlang_spark.operators.similarity import jl_distortion

    with pytest.raises(ValueError):
        jl_distortion(emb, out_dim=0)
    with pytest.raises(ValueError):
        jl_distortion(emb, out_dim=64)
    with pytest.raises(ValueError):
        jl_distortion(emb, n_sample=1)


def test_class_balanced_weights_matches_brute(emb):
    from kevinlang_spark.operators.sampling import class_balanced_weights

    counts = {}
    for r in emb.select("label").collect():
        counts[r["label"]] = counts.get(r["label"], 0) + 1
    beta = 0.999
    eff = {l: (1 - beta**n) / (1 - beta) for l, n in counts.items()}
    tot = sum(1 / e for e in eff.values())
    k = len(eff)

    got = {r["label"]: r for r in class_balanced_weights(emb, beta=beta).collect()}
    assert set(got) == set(counts)
    for l, r in got.items():
        assert r["n"] == counts[l]
        assert r["eff_n"] == pytest.approx(eff[l], rel=1e-6)
        assert r["weight"] == pytest.approx((1 / eff[l]) * k / tot, rel=1e-6)
    # weights sum back to the class count (normalization contract)
    assert sum(r["weight"] for r in got.values()) == pytest.approx(k, abs=1e-3)
    # rarer classes never get smaller weights
    by_n = sorted(got.values(), key=lambda r: r["n"])
    assert all(a["weight"] >= b["weight"] - 1e-9 for a, b in zip(by_n, by_n[1:]))


def test_class_balanced_weights_guard(emb):
    from kevinlang_spark.operators.sampling import class_balanced_weights

    with pytest.raises(ValueError):
        class_balanced_weights(emb, beta=1.0)
    with pytest.raises(ValueError):
        class_balanced_weights(emb, beta=0.0)


# ------------------------------------------------- registry guards --

#: queries knowingly registered without a DuckDB oracle (driver records
#: a weaker rows-only check).  Keep this to GENUINELY non-SQL-expressible
#: operators only: the two r12 entries run a 1000-round iterative argmax
#: (production-vocab BPE training) — the 8-round unroll in q_bpe_train's
#: oracle is the practical SQL limit, and tests/test_bpe_vocab.py
#: carries their correctness (parity vs the oracled distributed trainer
#: and a brute-force recount reference).
ROWS_ONLY: set[str] = {"q_bpe_train_vocab", "q_bpe_vocab_sweep"}


def test_every_query_has_an_oracle():
    qs, oracles = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert qs - oracles == ROWS_ONLY, (
        "query registered without an oracle_sql() entry (r6 wasted three "
        f"driver window slots on exactly this): {sorted(qs - oracles - ROWS_ONLY)}"
    )
    assert oracles <= qs, f"orphan oracles: {sorted(oracles - qs)}"


def test_readme_query_count_matches_registry():
    """README's advertised query count must track len(queries()) —
    a stale scorecard erodes trust in every other claim."""
    n = len(entrymod.queries())
    readme = (pathlib.Path(entrymod.__file__).parent / "README.md").read_text()
    counts = {int(m) for m in re.findall(r"(\d+) queries", readme)}
    assert counts == {n}, f"README says {counts}, registry has {n}"


def test_every_query_schema_is_driver_hashable(spark, sf_dir):
    """The driver canonicalizes results through pandas and hashes cell
    values — array/map/struct columns crash it (unhashable list cells,
    CORRECTNESS_r06 q_quantize_embeddings / q_label_centroids).  Every
    registered query must emit only atomic columns; serialize vectors
    with concat_ws/to_json instead."""
    bad = {}
    for name, fn in sorted(entrymod.queries().items()):
        schema = fn(spark, sf_dir).schema
        nested = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            bad[name] = nested
    assert not bad, f"container-typed output columns (driver-unhashable): {bad}"


# ------------------------------------------------------ source KL --


def test_source_kl_matches_dense_definition(spark):
    """The closed-form absent-mass KL must equal the dense textbook
    definition (sum over the FULL corpus vocabulary per source)."""
    import math as m
    import re

    from kevinlang_spark.operators.text import source_kl_divergence

    data = [
        ("a", "apple banana apple cherry"),
        ("a", "banana banana date"),
        ("b", "zebra yak zebra xylophone apple"),
        ("b", "yak yak zebra"),
        ("c", "apple banana cherry date"),
    ]
    df = spark.createDataFrame(data, "source string, text string")

    sw, cw = {}, {}
    for src, text in data:
        for w in re.split(r"[^a-z0-9]+", text.lower()):
            if w:
                sw[(src, w)] = sw.get((src, w), 0) + 1
                cw[w] = cw.get(w, 0) + 1
    V, N = len(cw), sum(cw.values())
    p = {w: (c + 1) / (N + V) for w, c in cw.items()}

    want = {}
    for src in {s for s, _ in sw}:
        n = sum(c for (s, w), c in sw.items() if s == src)
        kl = 0.0
        for w in cw:  # dense: EVERY corpus word contributes
            ps = (sw.get((src, w), 0) + 1) / (n + V)
            kl += ps * m.log(ps / p[w])
        want[src] = (n, len({w for (s, w) in sw if s == src}), kl)

    got = {r["source"]: r for r in source_kl_divergence(df).collect()}
    assert set(got) == set(want)
    for src, (n, vs, kl) in want.items():
        r = got[src]
        assert (r["n_tokens"], r["n_vocab"]) == (n, vs)
        assert r["kl"] == pytest.approx(kl, abs=1e-5)
    # lexically-distant source diverges more than an in-distribution one
    assert got["b"]["kl"] > got["c"]["kl"]


def test_scoped_state_partitions_restores_conf(spark):
    from kevinlang_spark.streaming.sinks import scoped_state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_state_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # restored even when the drain raises
    with pytest.raises(RuntimeError):
        with scoped_state_partitions(spark, 4):
            raise RuntimeError("drain failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
