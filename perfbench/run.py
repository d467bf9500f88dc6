"""The repository's benchmark: one command that sets up Spark, generates
seeded inputs, drives a workload through the public API, checks every
result against DuckDB or the generator, and prints every metric by name
with its unit.  The last line of standard output is one JSON object.

    python3 perfbench/run.py --workload analyst_session --seed 1 --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, alternating untraced and traced rounds so the
difference between the two is the tracing overhead.  Run it from the root
of a checkout: it imports ``kevinlang_spark`` from there and reads and
writes only below it (scratch in ``.perfbench_run/``, removed at exit;
spans and the environment record in ``.perfbench_out/``).  See
perfbench/README.md for the metric table.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUPS = 3
#: round index whose parameters the first conditioning round uses
CONDITIONING_ROUND = 10_000
WORKLOADS = ("analyst_session", "batch_scan", "curation_pipeline")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(run_dir: str) -> dict[str, str]:
    """Everything the benchmark pins beyond ``get_spark``'s defaults."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # keep every job and stage of a run in the status store, which the
        # traced run reads after its last round
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _rss_tree_mb() -> float:
    """Peak RSS (VmHWM) of this process plus all its descendants, which
    include the driver JVM and its Python workers."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return user + nice + system + irq + softirq, steal


class Clock:
    """Times a span two ways: wall seconds, and wall seconds with the
    share of wanted CPU time the hypervisor stole taken out.

    On a shared host the hypervisor can deschedule this machine's CPUs
    for a fifth of the time or more, for minutes on end; the kernel
    counts that as steal.  Steal accrues only while a CPU has work, so
    stolen ÷ (busy + stolen) over a span is the share of the span's CPU
    work that waited on the host, and wall × (1 − that share) is about
    what the span takes on a host of its own.  The end-to-end metrics use
    this time; the raw wall times are kept in the run's env record."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.j0 = _cpu_jiffies()

    def wall(self) -> float:
        return time.perf_counter() - self.t0

    def stop(self) -> tuple[float, float]:
        """(wall seconds, unstolen seconds)."""
        wall = self.wall()
        busy, stolen = (b - a for a, b in zip(self.j0, _cpu_jiffies()))
        share = stolen / (busy + stolen) if busy + stolen else 0.0
        return wall, wall * (1 - share)


def _stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _pct(xs: list[float], q: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _bracket_groups(text: str) -> list[str]:
    """Top-level ``[...]`` groups of a plan node's argument string."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(text[start:i])
    return groups


def _unpartitioned_window(line: str) -> bool:
    """A WindowExec line prints ``[window exprs], [partition], [order]``
    with empty lists left out; an order list holds ASC or DESC."""
    _, _, args = line.partition("Window [")
    rest = _bracket_groups("[" + args)[1:]
    return not rest or (len(rest) == 1 and (" ASC" in rest[0] or " DESC" in rest[0]))


def _single_partition_ops(df) -> int:
    """SinglePartition exchanges plus unpartitioned windows in the plan
    an op's action executes."""
    from kevinlang_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    return plan.count("Exchange SinglePartition") + sum(
        1 for line in plan.splitlines() if "Window [" in line and _unpartitioned_window(line)
    )


@dataclass
class Sample:
    op: Any
    #: latency with stolen time taken out (see Clock), and wall latency
    ms: float
    wall_ms: float
    traced: bool
    result: Any
    error: str | None
    #: single-partition operators in the op's plan (traced rounds only)
    sp_ops: int | None


def _measure(wl, ctx, seconds: float, trace: bool, run_dir: str):
    """Whole rounds, so every run measures the same mix of operations.  A
    round starts only if, by the mean length of the rounds so far, it is
    expected to be half done within ``seconds``: the window is ``seconds``
    long on average and never overruns by more than about half a round.
    A traced run alternates untraced and traced
    rounds and runs at least one of each.  Returns the samples and the
    (wall, unstolen) seconds of each round."""
    # unrecorded conditioning rounds first: the JIT is still compiling the
    # package's hot paths after set-up, and half-cold first rounds would
    # make the figures depend on how many rounds fit
    for k in range(wl.CONDITIONING_ROUNDS):
        ctx.round_dir = os.path.join(run_dir, "conditioning")
        os.makedirs(ctx.round_dir)
        for op in wl.round_ops(ctx, CONDITIONING_ROUND + k):
            op.run(ctx)
        shutil.rmtree(ctx.round_dir)
    samples: list[Sample] = []
    round_s: list[tuple[float, float]] = []
    window = Clock()
    rnd = 0
    while rnd < (2 if trace else 1) or (
        window.wall() + statistics.fmean(w for w, _ in round_s) / 2 < seconds
    ):
        rclock = Clock()
        ctx.tr.enabled = trace and rnd % 2 == 1
        ctx.round_dir = os.path.join(run_dir, f"round{rnd}")
        os.makedirs(ctx.round_dir)
        for op in wl.round_ops(ctx, rnd):
            ctx.tr.op = len(samples)
            ctx.action_df = None
            clock = Clock()
            try:
                result, error = op.run(ctx), None
            except Exception as e:  # a failed op is counted, the run goes on
                result, error = None, f"{type(e).__name__}: {e}"
            wall, unstolen = clock.stop()
            sp_ops = None
            if ctx.tr.enabled and ctx.action_df is not None:
                sp_ops = _single_partition_ops(ctx.action_df)
            samples.append(
                Sample(op, unstolen * 1e3, wall * 1e3, ctx.tr.enabled, result, error, sp_ops)
            )
        ctx.tr.enabled = False
        shutil.rmtree(ctx.round_dir, ignore_errors=True)
        round_s.append(rclock.stop())
        rnd += 1
    return samples, round_s


def _check(ctx, samples: list[Sample]) -> list[str]:
    bad = []
    for s in samples:
        err = s.error
        if err is None:
            try:
                err = s.op.check(ctx, s.result)
            except Exception as e:  # an unparseable answer is a wrong answer
                err = f"unreadable result: {type(e).__name__}: {e}"
        if err is not None:
            bad.append(f"{s.op.name}{' (re-run)' if s.op.rerun else ''}: {err}")
    return bad


def _geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def end_to_end(samples, round_s, setup_s, rss_mb) -> dict[str, float]:
    """Latency percentiles are taken per op kind, over that kind's
    first-time samples, and combined by geometric mean, so each kind
    weighs the same and a slow spell that hits a few samples moves the
    figure little.  Throughput is a round's ops (or input rows) over the
    median round time: every round runs the same mix.  All times have the
    host's steal taken out (see Clock)."""
    kinds: dict[str, list[float]] = {}
    for s in samples:
        if not s.op.rerun:
            kinds.setdefault(s.op.name, []).append(s.ms)
    again = [s.ms for s in samples if s.op.rerun]
    round_med = _median([u for _, u in round_s])
    return {
        "setup_s": setup_s,
        "op_p50_ms": _geomean([_median(xs) for xs in kinds.values()]),
        "op_p90_ms": _geomean([_pct(xs, 90) for xs in kinds.values()]),
        "ops_per_s": len(samples) / len(round_s) / round_med,
        "rows_per_s": sum(s.op.rows_in for s in samples) / len(round_s) / round_med,
        "rerun_ms": _median(again),
        "peak_rss_mb": rss_mb,
    }


def per_layer(samples, spans, starts, extras) -> dict[str, float]:
    from tracer import LAYERS, self_ms

    traced = [s for s in samples if s.traced]
    n_ops = max(len(traced), 1)
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)

    def incl(sp, attr):
        return getattr(sp, attr) + sum(incl(k, attr) for k in kids.get(sp.id, []))

    def named(name):
        return [sp for sp in spans if sp.name == name]

    def med_ms(name):
        return _median([sp.ms for sp in named(name)])

    per_op: dict[int, dict[str, float]] = {}
    for sp in spans:
        if sp.op is None:
            continue
        d = per_op.setdefault(sp.op, {"plan_ms": 0.0, "eager": 0, "jobs": 0, "tasks": 0})
        d["jobs"] += sp.jobs
        d["tasks"] += sp.tasks
        if sp.name == "frame.plan":
            d["plan_ms"] += sp.ms
            d["eager"] += incl(sp, "jobs")
    plan_ms = [d["plan_ms"] for d in per_op.values() if d["plan_ms"] > 0]
    renders = named("render.render")
    csv_reads = named("sources.read_csv")
    warm = named("pipeline.run_warm")
    cold = named("pipeline.run_cold")
    out = {
        "session.start_s": _median(starts),
        "sources.read_csv_ms": med_ms("sources.read_csv"),
        "sources.read_csv_jobs": sum(sp.jobs for sp in csv_reads) / max(len(csv_reads), 1),
        "sources.read_parquet_ms": med_ms("sources.read_parquet"),
        "frame.plan_ms": _median(plan_ms),
        "frame.eager_jobs": sum(d["eager"] for d in per_op.values()) / n_ops,
        "frame.exec_ms": med_ms("frame.exec"),
        "frame.jobs_per_op": sum(d["jobs"] for d in per_op.values()) / n_ops,
        "frame.tasks_per_op": sum(d["tasks"] for d in per_op.values()) / n_ops,
        "frame.single_partition_exchanges": sum(s.sp_ops or 0 for s in traced) / n_ops,
        "render.render_ms": _median([sp.ms for sp in renders]),
        "render.jobs_per_render": sum(sp.jobs for sp in renders) / max(len(renders), 1),
        "operators.aggregate_ms": med_ms("operators.aggregate"),
        "operators.pivot_table_ms": med_ms("operators.pivot_table"),
        "operators.merge_ms": med_ms("operators.merge"),
        "operators.text_stats_ms": med_ms("operators.text_stats"),
        "operators.dedup_exact_ms": med_ms("operators.dedup_exact"),
        "operators.minhash_ms": med_ms("operators.minhash"),
        "operators.lsh_precision": extras.get("lsh_precision", 0.0),
        "pipeline.run_cold_ms": med_ms("pipeline.run_cold"),
        "pipeline.run_warm_ms": med_ms("pipeline.run_warm"),
        "pipeline.stages_skipped_ratio": (
            sum(sp.attrs["skipped"] for sp in warm) / sum(sp.attrs["stages"] for sp in warm)
            if warm
            else 0.0
        ),
        "pipeline.bytes_written_per_input_byte": _median(
            [sp.attrs["bytes_written"] / sp.attrs["bytes_in"] for sp in cold]
        ),
        "spark.tasks": sum(sp.tasks for sp in spans),
        "spark.failed_tasks": sum(sp.failed_tasks for sp in spans),
    }
    own = self_ms(spans)
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.layer == layer]
        if layer == "session":
            out["session.self_ms"] = _median([own[sp.id] for sp in mine])
        else:
            out[f"{layer}.self_ms"] = sum(own[sp.id] for sp in mine) / n_ops
    plain = [s.ms for s in samples if not s.traced and not s.op.rerun]
    with_tr = [s.ms for s in traced if not s.op.rerun]
    out["trace.overhead_pct"] = (
        (_median(with_tr) / _median(plain) - 1) * 100 if plain and with_tr else 0.0
    )
    return out


def _units() -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run(args, run_dir: str, out_dir: str) -> int:
    sys.path.insert(0, REPO)
    try:
        from kevinlang_spark import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import kevinlang_spark from {REPO}: {e}", file=sys.stderr)
        return 2
    import pyspark

    import analyst
    import batch
    import curation
    from common import Ctx
    from oracle import Oracle
    from tracer import Span, Tracer, layer_table

    wl = {m.NAME: m for m in (analyst, batch, curation)}[args.workload]
    nproc = _nproc()
    conf = spark_conf(run_dir)
    tracer = Tracer()
    oracle = Oracle()
    setups, starts = [], []
    spark = ctx = None
    try:
        for k in range(SETUPS):
            clock = Clock()
            t0 = clock.t0
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{nproc}]",
                shuffle_partitions=nproc,
                extra_conf=conf,
            )
            t1 = time.perf_counter()
            inp = wl.generate(os.path.join(run_dir, f"inputs{k}"), args.seed)
            tracer.spark = spark
            ctx = Ctx(spark, tracer, inp, oracle, args.seed)
            wl.warmup(ctx)
            starts.append(t1 - t0)
            setups.append(clock.stop())
            tracer.spans.append(Span(-k - 1, "session.start", t0, t1, None, None))
            if k < SETUPS - 1:
                spark.stop()  # the next set-up starts a session in the same JVM
                shutil.rmtree(inp.root)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        samples, round_s = _measure(wl, ctx, args.seconds, args.trace == 1, run_dir)
        window, rounds = sum(w for w, _ in round_s), len(round_s)
        stolen = 1 - sum(u for _, u in round_s) / window
        rss = _rss_tree_mb()
        extras = {}
        if args.trace == 1:
            tracer.resolve_jobs()
            if hasattr(wl, "lsh_precision"):
                extras["lsh_precision"] = wl.lsh_precision(ctx)
        wl.oracle_views(ctx)
        bad = _check(ctx, samples)
        input_digest = ctx.inputs.digest()
    finally:
        oracle.close()
        if spark is not None:
            _stop_spark(spark)

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "spark_conf": conf,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "input_sha256": input_digest,
        "rounds": rounds,
        "ops": len(samples),
        "window_s": window,
        "round_s": round_s,
        "stolen_share": stolen,
        #: name, re-run, unstolen ms, wall ms
        "op_ms": [[s.op.name, s.op.rerun, round(s.ms, 1), round(s.wall_ms, 1)] for s in samples],
        #: (wall, unstolen) seconds
        "setup_s": setups,
    }
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + "-env.json", "w") as fh:
        json.dump(env, fh, indent=1)

    units = _units()
    if args.trace == 1:
        metrics = per_layer(samples, tracer.spans, starts, extras)
        tracer.write(stem + "-spans.jsonl")
        table = layer_table(tracer.spans)
        with open(stem + "-layers.txt", "w") as fh:
            for row in table:
                fh.write(f"{row['layer']:10s} calls={row['calls']:5d} "
                         f"self_ms={row['self_ms']:10.1f} jobs={row['jobs']}\n")
        print("layer       calls    self_ms   jobs")
        for row in table:
            print(f"{row['layer']:10s} {row['calls']:6d} {row['self_ms']:10.1f} {row['jobs']:6d}")
    else:
        metrics = end_to_end(samples, round_s, _median([u for _, u in setups]), rss)

    first = [s for s in samples if not s.op.rerun]
    print(f"# {args.workload} seed={args.seed} local[{nproc}] spark={env['spark']} "
          f"java={java} python={env['python']}")
    print(f"# {len(samples)} ops in {rounds} rounds over {window:.1f} s; "
          f"{len(first)} latency samples, {len(samples) - len(first)} re-runs; "
          f"failed_ratio={len(bad) / max(len(samples), 1):.4f}; "
          f"the host stole {stolen:.1%} of the CPU time the window wanted")
    for line in bad:
        print(f"MISMATCH {line}", file=sys.stderr)
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.4f} {units.get(name, '')}")
    print(
        json.dumps(
            {
                "correct": not bad,
                "attempted": len(samples),
                "failed": len(bad),
                "metrics": {
                    n: {"value": v, "unit": units[n]} for n, v in metrics.items() if n in units
                },
            }
        )
    )
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    run_dir = os.path.join(cwd, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    # scratch of the JVM, Spark and Python workers stays in the checkout
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    try:
        return run(args, run_dir, os.path.join(cwd, ".perfbench_out"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
