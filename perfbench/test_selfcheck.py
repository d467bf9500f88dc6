"""Self-check of the benchmark's repeatability.

* Generated inputs are a function of the seed: the same seed gives the
  same bytes, another seed different ones.
* Two traced runs with the same seed report identical exact counts and
  the same input hash.  On curation_pipeline the MinHash stage runs 13 or
  14 Spark jobs from run to run with the same seed, so there
  ``frame.jobs_per_op`` is not an exact count and is left out.

Run from the root of a checkout:  python3 -m pytest perfbench/test_selfcheck.py -q
(the traced runs start Spark and take a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

COUNTS = (
    "frame.eager_jobs",
    "frame.jobs_per_op",
    "frame.single_partition_exchanges",
    "sources.read_csv_jobs",
    "render.jobs_per_render",
)


@pytest.mark.parametrize(
    "gen", [inputs.analyst_inputs, inputs.batch_inputs, inputs.curation_inputs]
)
def test_inputs_follow_the_seed(gen, tmp_path):
    a = gen(str(tmp_path / "a"), 5).digest()
    b = gen(str(tmp_path / "b"), 5).digest()
    c = gen(str(tmp_path / "c"), 6).digest()
    assert a == b
    assert a != c


def _traced_run(workload: str, seed: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    env_path = os.path.join(
        REPO, ".perfbench_out", f"{workload}-seed{seed}-trace1-env.json"
    )
    with open(env_path) as fh:
        digest = json.load(fh)["input_sha256"]
    return {k: v["value"] for k, v in result["metrics"].items()}, digest


@pytest.mark.parametrize(
    "workload", ["analyst_session", "batch_scan", "curation_pipeline"]
)
def test_counts_repeat_for_a_seed(workload):
    first, d1 = _traced_run(workload, 3)
    second, d2 = _traced_run(workload, 3)
    assert d1 == d2
    inexact = {"frame.jobs_per_op"} if workload == "curation_pipeline" else set()
    for name in COUNTS:
        if name not in inexact:
            assert first[name] == second[name], name
