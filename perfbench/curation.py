"""curation_pipeline: ``pipeline.run_pipeline`` over a seeded document
corpus with planted exact and near duplicates.

Stages: ingest (read_csv) → stats (text stats + quality filter) → exact
(dedup_exact) → neardup (MinHash near-dup removal) → write.  Each round
is a cold run on a fresh stage root, then a warm re-run on the same root
in which every stage's fingerprint matches and is skipped.  This is the
only workload that writes, so a change that speeds reads but costs
writes, or buys speed with memory, shows up here.

Stage spans: ``run_pipeline`` calls a stage's function, then writes its
output before it calls the next stage's function.  The span of a stage
therefore runs from its function's call to the next stage's call (or to
the return of ``run_pipeline``): the call plus the materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kevinlang_spark import KevinFrame
from kevinlang_spark.operators.dedup import (
    jaccard_verify,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    shingle_sig_df,
)
from kevinlang_spark.pipeline import Stage, run_pipeline
from kevinlang_spark.sources import read_csv

import inputs
from common import Ctx, Op

#: unrecorded rounds before the measuring window: cold runs keep speeding up over the first two
CONDITIONING_ROUNDS = 2
NAME = "curation_pipeline"
QUALITY_MIN = 0.5
#: stage name, span name, inputs
STAGES = (
    ("ingest", "pipeline.stage", ()),
    ("stats", "operators.text_stats", ("ingest",)),
    ("exact", "operators.dedup_exact", ("stats",)),
    ("neardup", "operators.minhash", ("exact",)),
    ("write", "pipeline.stage", ("neardup",)),
)


def generate(root: str, seed: int) -> inputs.Inputs:
    return inputs.curation_inputs(root, seed)


def oracle_views(ctx: Ctx) -> None:
    """Survivors are checked against the generator's planted set."""


def _ingest(ctx: Ctx):
    with ctx.tr.span("sources.read_csv"):
        kf = read_csv(ctx.spark, ctx.inputs.paths["corpus"], ordered=False)
    return kf.to_df()


def _stats(ctx: Ctx, ingest):
    kf = KevinFrame.from_df(ingest, ordered=False).with_text_stats("text")
    kf = kf.filter(F.col("quality") >= QUALITY_MIN)
    return kf.df.select("doc_id", "source", "text", "quality")


def _exact(ctx: Ctx, stats):
    return KevinFrame.from_df(stats, ordered=False).dedup_exact("text", "doc_id").df


def _neardup(ctx: Ctx, exact):
    pairs = minhash_dedup_pairs(exact, "doc_id", "text")
    later = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return exact.join(later, "doc_id", "left_anti")


def _write(ctx: Ctx, neardup):
    return neardup.select("doc_id", "source", "text", "quality")


_FNS = {"ingest": _ingest, "stats": _stats, "exact": _exact, "neardup": _neardup, "write": _write}


class _StageClock:
    """Wraps stage functions so each stage gets a span from its call to
    the next stage's call, and counts the stages that actually ran."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.open = None
        self.ran = 0

    def finish(self) -> None:
        self.ctx.tr.close(self.open)
        self.open = None

    def stage(self, name: str, span: str, deps: tuple) -> Stage:
        def fn(**kw):
            self.finish()
            self.ran += 1
            self.open = self.ctx.tr.open(span, stage=name)
            return _FNS[name](self.ctx, **kw)

        return Stage(name, fn, deps, version=f"{name}-q{QUALITY_MIN}")


def _run(ctx: Ctx, root: str, span: str) -> list[int]:
    clock = _StageClock(ctx)
    stages = [clock.stage(*s) for s in STAGES]
    with ctx.tr.span(span) as sp:
        try:
            out = run_pipeline(ctx.spark, stages, root)
        finally:
            clock.finish()
        df = out["write"].select("doc_id")
        with ctx.tr.span("frame.exec"):
            ids = sorted(int(r[0]) for r in df.collect())
    ctx.action_df = df
    if sp is not None:
        sp.attrs["stages"] = len(STAGES)
        sp.attrs["skipped"] = len(STAGES) - clock.ran
        sp.attrs["bytes_written"] = _du(root)
        sp.attrs["bytes_in"] = ctx.inputs.size_bytes("corpus")
    return ids


def _du(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def _check(ctx: Ctx, got) -> str | None:
    want = ctx.inputs.facts["survivors"]
    if got == want:
        return None
    extra = sorted(set(got) - set(want))[:5]
    missing = sorted(set(want) - set(got))[:5]
    return f"{len(got)} survivors, expected {len(want)}; extra {extra}, missing {missing}"


def warmup(ctx: Ctx) -> None:
    """The set-up's warm-up: ingest and text stats over the corpus, without
    the pipeline's writes."""
    _stats(ctx, _ingest(ctx)).count()


def round_ops(ctx: Ctx, rnd: int) -> list[Op]:
    def cold(ctx: Ctx):
        return _run(ctx, os.path.join(ctx.round_dir, "stages"), "pipeline.run_cold")

    def warm(ctx: Ctx):
        return _run(ctx, os.path.join(ctx.round_dir, "stages"), "pipeline.run_warm")

    n = ctx.inputs.rows["corpus"]
    return [Op("run_cold", cold, _check, n), Op("run_warm", warm, _check, 0, rerun=True)]


def lsh_precision(ctx: Ctx) -> float:
    """Verified near-dup pairs ÷ LSH candidate pairs over the raw corpus,
    with ``minhash_dedup_pairs``' own parameters."""
    docs = ctx.spark.read.option("header", True).csv(ctx.inputs.paths["corpus"])
    sh, sig = shingle_sig_df(docs, "doc_id", "text", num_hashes=32)
    cands = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=32, bands=16, signatures=sig)
    cands = cands.localCheckpoint()
    verified = jaccard_verify(
        docs, cands, "doc_id", "text", shingles=sh.select("id", F.col("shh").alias("sh"))
    )
    n_cands = cands.count()
    return verified.count() / n_cands if n_cands else 1.0
