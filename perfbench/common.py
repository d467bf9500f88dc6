"""What the runner and the workloads share: the run context and the
operation record."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from inputs import Inputs
from oracle import Oracle
from tracer import Tracer


@dataclass
class Ctx:
    spark: Any
    tr: Tracer
    inputs: Inputs
    oracle: Oracle
    seed: int
    #: scratch directory of the current round, emptied after it
    round_dir: str = ""
    #: DataFrame the last op's action ran, for plan inspection
    action_df: Any = None


@dataclass
class Op:
    """One user operation: ``run`` drives the package and returns what
    the user sees; ``check`` compares that with the oracle and returns
    None, or a description of the mismatch."""

    name: str
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], str | None]
    rows_in: int
    rerun: bool = False

    def again(self) -> "Op":
        """The same operation with identical inputs, run again."""
        return Op(self.name, self.run, self.check, self.rows_in, True)


def round_rng(seed: int, rnd: int) -> np.random.Generator:
    """Parameters of round ``rnd`` (the conditioning round has its own)."""
    return np.random.default_rng([seed, 7919, rnd])


def memo(fn: Callable[[Ctx], Any]) -> Callable[[Ctx], Any]:
    """Compute an expected result once per op, however often it runs."""
    box: list = []

    def get(ctx: Ctx):
        if not box:
            box.append(fn(ctx))
        return box[0]

    return get
