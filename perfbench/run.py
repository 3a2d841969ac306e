"""Benchmark of the timedf_spark engine: three closed-loop workloads, one
client each, on the project's star-schema testdata.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads (see ``WORKLOADS``): ``olap`` (14 scan/aggregate/join queries),
``curation`` (dedup, clustering, ANN and substring operators, plus the
ny_taxi_ml training pipeline) and ``ingest`` (streaming foreachBatch
sink + rollup + compaction). A run stages its inputs (a copy of
``perfbench/testdata/<sf>``, the project's seed-42 testdata, in the run's
work dir), starts the session sized for this machine, warms up, then
runs whole passes until ``--seconds`` of timed wall clock have passed;
outputs are checked afterwards, outside every timed region.

With ``--trace 0`` the last line of standard output is one JSON object
with the end-to-end metrics; with ``--trace 1`` untraced and traced
steps alternate and the JSON carries the per-layer metrics, the traced
spans go to ``perfbench/out/``. The lines before it are a
readable report: every metric with its unit, failures, the tail
percentile, the effective Spark conf and the host-noise record.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import sys
import time

import numpy as np

import harness
from ingest import Ingest
from suite import CURATION, OLAP, QuerySuite, dagg_probe
from tracing import Tracer
from train import Train

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The inputs are fixed per workload; ``--seed`` orders the passes and
# cuts the ingest files.
TESTDATA = os.path.join(HERE, "testdata")

# name -> (testdata scale under TESTDATA, warm-up passes, tail quantile).
# The tail quantile is the highest with ten samples beyond it among the
# ops of two steps, the fewest a 10 s window holds on a 4-core machine:
# two olap passes (28 ops), two ingest rounds (24 ops). It is fixed
# rather than worked out from each run's count, because a run that fits
# one more step would otherwise report a higher percentile and so a
# different op at the tail. Two curation passes (16 ops) are too few for
# ten beyond any quantile above the median: its op_tail_s is p75, four
# samples beyond.
WORKLOADS = {
    "olap": ("sf0.1", 2, 18 / 28),
    "curation": ("sf0.01", 2, 0.75),
    "ingest": ("sf0.1", 2, 14 / 24),
}
SMOKE_SF = "sf0.001"
OP_TIMEOUT_S = 120.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help=f"inputs at {SMOKE_SF}, one warm-up pass")
    return p.parse_args(argv)


def _program_missing() -> str:
    for rel in ("timedf_spark/__init__.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return ""


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _make(name: str, ctx):
    if name == "olap":
        return QuerySuite(ctx, OLAP)
    if name == "curation":
        return Pipelines(QuerySuite(ctx, CURATION), Train(ctx))
    return Ingest(ctx)


class Pipelines:
    """The curation queries and the ny_taxi_ml training pipeline as one
    workload: each pass runs both, so the operators and ml layers are
    measured in one closed loop."""

    def __init__(self, suite: QuerySuite, train: Train) -> None:
        self.suite, self.train = suite, train

    def warm_up(self, passes: int) -> None:
        self.suite.warm_up(passes)
        self.train.warm_up(passes)

    def step(self) -> tuple[list, float]:
        ops, wall = self.suite.step()
        more, w = self.train.step()
        return ops + more, wall + w

    def verify(self) -> dict[str, str]:
        return {**self.suite.verify(), **self.train.verify()}

    def record_table_reads(self):
        return self.suite.record_table_reads()

    def layer_metrics(self) -> dict[str, float]:
        return {**self.suite.layer_metrics(), **self.train.layer_metrics()}


def _loop(wl, seconds: float) -> tuple[list, float]:
    """Closed loop, one client: whole steps until ``seconds`` of timed
    wall clock have passed."""
    ops, wall = [], 0.0
    while wall < seconds:
        got, w = wl.step()
        ops.extend(got)
        wall += w
    return ops, wall


def run(args, work: str) -> tuple[dict, dict]:
    started = harness.process_start_epoch()
    sf, warm, tail_q = WORKLOADS[args.workload]
    if args.smoke:
        sf, warm = SMOKE_SF, 1
    data = os.path.join(work, "data")
    shutil.copytree(os.path.join(TESTDATA, sf), data)
    noise = harness.NoiseRecord()
    rss = harness.RssSampler().start()
    t = harness.now()
    from timedf_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=harness.session_conf(work))
    start_s = harness.now() - t
    try:
        ctx = harness.Context(
            spark, data, f"testdata/{sf}:", work, os.path.join(HERE, ".cache"),
            np.random.default_rng(args.seed), Tracer(spark, False), OP_TIMEOUT_S,
        )
        wl = _make(args.workload, ctx)
        t = harness.now()
        wl.warm_up(warm)
        warmup_s = harness.now() - t
        setup_s = time.time() - started
        heap_mb = harness.live_heap_mb(spark)

        if args.trace:
            ops, wall, traced_ops, layers = _traced(args, ctx, wl)
        else:
            (ops, wall), traced_ops, layers = _loop(wl, args.seconds), [], {}
        rss.stop()
        bad = wl.verify()
        conf = harness.conf_record(spark)
    finally:
        rss.stop()
        harness.stop_session(spark)

    ops = [_checked(op, bad) for op in ops]
    every = ops + [_checked(op, bad) for op in traced_ops]
    good = [op.latency_s for op in ops if op.ok]
    tail, beyond = harness.tail(good, tail_q) if good else (0.0, 0)
    failed = [op for op in every if not op.ok]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": harness.median(good),
        "op_tail_s": tail,
        "ops_per_s": len(good) / wall,
        "peak_rss_mb": rss.peak_mb,
        "heap_live_mb": heap_mb,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "attempted": len(every),
        "failed": len(failed),
        "failed_frac": len(failed) / len(every),
        "failures": sorted({f"{op.name}: {op.error}" for op in failed})[:20],
        "tail": {"percentile": round(100 * tail_q, 2), "samples_beyond": beyond, "samples": len(good)},
        "op_median_s": {
            name: harness.median([op.latency_s for op in ops if op.ok and op.name == name])
            for name in sorted({op.name for op in ops})
        },
        "timed_wall_s": wall,
        "session": {"start_s": start_s, "warmup_s": warmup_s},
        "conf": conf,
        "noise": noise.finish(),
        "end_to_end": e2e,
    }
    if args.trace:
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        report["per_layer"] = layers
        report["span_file"] = layers.pop("_span_file")
    return report, e2e


def _checked(op, bad: dict[str, str]):
    """The op, failed if its output check failed."""
    if op.ok and op.name in bad:
        return op._replace(ok=False, error=bad[op.name])
    return op


def _traced(args, ctx, wl) -> tuple[list, float, list, dict[str, float]]:
    """Untraced and traced steps in ABBA order until each side has
    ``--seconds`` of timed wall clock, so both see the same warm-up
    state. Returns the untraced ops and wall, the traced ops and the
    per-layer metrics."""

    spark, plain = ctx.spark, ctx.tracer
    tracer = Tracer(spark, True)
    record = getattr(wl, "record_table_reads", contextlib.nullcontext)
    ops, wall, traced_ops, traced_wall = [], 0.0, [], 0.0
    with tracer.span("run", jobs=False), tracer.span(f"workload:{args.workload}", jobs=False):
        for i in itertools.count():
            if wall >= args.seconds and traced_wall >= args.seconds:
                break
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                ctx.tracer = tracer if traced else plain
                with record() if traced else contextlib.nullcontext():
                    got, w = wl.step()
                if traced:
                    traced_ops, traced_wall = traced_ops + got, traced_wall + w
                else:
                    ops, wall = ops + got, wall + w

    op_spans = [s for s in tracer.spans if s["name"].startswith("op:")]
    n = max(len(op_spans), 1)
    total = lambda key: sum(tracer.subtree_total(s, key) for s in op_spans)  # noqa: E731
    layers = {
        "session.jobs_per_op": total("jobs") / n,
        "session.stages_per_op": total("stages") / n,
        "session.tasks_per_op": total("tasks") / n,
        "session.shuffle_mb_per_op": total("shuffle_bytes") / 2**20 / n,
        "session.spill_mb_per_op": total("spill_bytes") / 2**20 / n,
        "session.gc_s": total("gc_ms") / 1000.0 / n,
        "session.core_util": sum(s.get("task_ms", 0) for s in tracer.spans)
        / 1000.0 / (traced_wall * harness.cores()),
    }
    ctx.tracer = tracer  # the last step may have run untraced
    layers.update(wl.layer_metrics())
    floor = []
    for _ in range(5):
        t = harness.now()
        _trigger(spark.range(1))
        floor.append(harness.now() - t)
    layers["benchmark.trigger_floor_s"] = harness.median(floor)
    if args.workload == "olap":
        layers.update(dagg_probe(spark, ctx.data_dir))
    plain_rate = sum(op.ok for op in ops) / wall
    traced_rate = sum(op.ok for op in traced_ops) / traced_wall
    layers["trace.overhead_frac"] = 1.0 - traced_rate / plain_rate if plain_rate else 0.0
    path = os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
    tracer.write(path)
    ctx.tracer = plain
    layers["_span_file"] = os.path.relpath(path, ROOT)
    return ops, wall, traced_ops, layers


def _trigger(df) -> None:
    from timedf_spark.sources import trigger

    trigger(df)


def main(argv=None) -> int:
    args = _args(argv)
    missing = _program_missing()
    if missing:
        print(f"perfbench: program file {missing} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(work)
    # Keep every scratch file of Python, Spark and the JVM inside the work dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.cores())
    try:
        report, e2e = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = _per_layer_units()
        metrics = {k: {"value": report["per_layer"].get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_frac':40s} {report['failed_frac']:.6g} ratio "
          f"({report['failed']}/{report['attempted']})")
    t = report["tail"]
    print(f"op_tail_s is p{t['percentile']} with {t['samples_beyond']} of {t['samples']} samples beyond")
    print("report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
