"""``ingest`` workload: writes beside reads through the streaming layer.

Set-up splits the testdata events into ``N_FILES`` source files at
seed-drawn cut points. A round then runs one ``availableNow`` stream with
``maxFilesPerTrigger=1``; every micro-batch is committed through
``foreachBatch`` into ``streaming.sinks.write_batch_idempotent`` and
``streaming.rollup_apply.apply_rollup_batch``. After the stream,
``streaming.compaction.compact_sink`` folds the batch directories and the
sink is read back with ``read_sink``. One op is one micro-batch commit;
its latency is the time from the previous commit's end (or the stream's
start) to the end of its own ``foreachBatch`` body, which spans the
trigger's offset log, planning and the batch itself. The round's wall
time (stream, compaction, read-back) is the timed wall clock.

Each round is checked outside the timed part: the read-back holds
exactly the events (same row count, same set of ``event_id``), and the
rollup store equals one ``quantized_rollup`` over all events.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from harness import OpResult, median, now

N_FILES = 12
KEYS = ["event_type", "user_id"]
KEYS_DDL = "event_type string, user_id long"
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _batch_dirs(path: str) -> int:
    return sum(1 for d in os.listdir(path) if d.startswith("batch_id="))


class Ingest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "ingest-src")
        self.rounds = 0
        self.problems: list[str] = []
        self.progress: list[dict] = []
        self.round_stats: list[dict] = []
        self._split()

    def _split(self) -> None:
        """Cut the events into N_FILES files at seed-drawn row offsets,
        with increasing modification times so the stream reads them in
        order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(self.ctx.data_dir, "events.parquet"))
        events = events.set_column(
            events.schema.get_field_index("ts"),
            "ts",
            events.column("ts").cast(pa.timestamp("us", tz="UTC")),
        )
        n = events.num_rows
        cuts = np.sort(self.ctx.rng.choice(np.arange(1, n), size=N_FILES - 1, replace=False))
        bounds = [0, *cuts.tolist(), n]
        os.makedirs(self.src)
        for i in range(N_FILES):
            path = os.path.join(self.src, f"part-{i:05d}.parquet")
            pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        self.input_bytes = _dir_bytes(self.src)
        self.expected_ids = np.sort(events.column("event_id").to_numpy())

    def _expected_rollup(self) -> dict:
        from timedf_spark.operators.rollup import quantized_rollup

        if not hasattr(self, "_rollup_want"):
            df = self.ctx.spark.read.schema(SCHEMA).parquet(self.src)
            self._rollup_want = _rows(quantized_rollup(df, KEYS, "value"))
        return self._rollup_want

    # ---- set-up ----------------------------------------------------------

    def warm_up(self, rounds: int) -> None:
        for _ in range(rounds):
            self.step()
        self.progress.clear()
        self.round_stats.clear()

    # ---- timed loop ------------------------------------------------------

    def step(self) -> tuple[list[OpResult], float]:
        """One round; returns one op per micro-batch and the round's
        timed wall time."""
        from timedf_spark.sources import trigger
        from timedf_spark.streaming.compaction import compact_sink, read_sink
        from timedf_spark.streaming.rollup_apply import apply_rollup_batch, seed_rollup_store
        from timedf_spark.streaming.sinks import write_batch_idempotent

        spark, tracer = self.ctx.spark, self.ctx.tracer
        base = os.path.join(self.ctx.work, f"ingest-r{self.rounds}")
        sink, rollup, ckpt = (os.path.join(base, d) for d in ("sink", "rollup", "ckpt"))
        self.rounds += 1
        stats = {"rollup_bytes": 0, "traced": tracer.enabled}
        commits: list[float] = []
        t0 = now()
        with tracer.span("round", jobs=False) as round_span:

            def commit(df, batch_id):
                with tracer.span("op:batch", parent=round_span, jobs=False, op="batch"):
                    with tracer.span("streaming.sink_write"):
                        write_batch_idempotent(df, batch_id, sink)
                    with tracer.span("streaming.rollup_apply"):
                        apply_rollup_batch(df, batch_id, rollup, KEYS, KEYS_DDL, "value")
                commits.append(now())
                if tracer.enabled:
                    stats["rollup_bytes"] += _dir_bytes(os.path.join(rollup, f"v={batch_id}"))

            error = ""
            query = None
            try:
                with tracer.span("streaming.seed_store"):
                    seed_rollup_store(spark, rollup, KEYS_DDL)
                stream = (
                    spark.readStream.schema(SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.src)
                )
                commits.append(now())
                query = (
                    stream.writeStream.foreachBatch(commit)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                query.awaitTermination()
                stats["dirs_before_compact"] = _batch_dirs(sink)
                stats["sink_bytes"] = _dir_bytes(sink)
                with tracer.span("streaming.compact"):
                    t_c = now()
                    compact_sink(spark, sink, min_batches=2, include_max_live=True)
                    stats["compact_s"] = now() - t_c
                stats["dirs_after_compact"] = _batch_dirs(sink)
                stats["compacted_bytes"] = _dir_bytes(sink)
                with tracer.span("streaming.read_sink"):
                    t_r = now()
                    trigger(read_sink(spark, sink))
                    stats["read_sink_s"] = now() - t_r
            except Exception as e:  # noqa: BLE001 — the round's missing batches fail
                error = repr(e)[:300]
        wall = now() - t0
        ops = [OpResult("batch", b - a) for a, b in zip(commits, commits[1:])]
        ops += [OpResult("batch", 0.0, False, error or "batch not committed")] * (N_FILES - len(ops))
        if not error:
            problem = self._check(sink, rollup)
            if problem:
                self.problems.append(problem)
                ops = [o._replace(ok=False, error=problem) for o in ops]
        self.progress.extend(_batch_progress(query))
        self.round_stats.append(stats)
        shutil.rmtree(base, ignore_errors=True)
        return ops, wall

    def _check(self, sink: str, rollup: str) -> str:
        from timedf_spark.streaming.compaction import read_sink
        from timedf_spark.streaming.rollup_apply import read_rollup

        spark = self.ctx.spark
        ids = np.sort(read_sink(spark, sink).select("event_id").toArrow().column(0).to_numpy())
        if len(ids) != len(self.expected_ids):
            return f"read-back rows {len(ids)} != events {len(self.expected_ids)}"
        if not np.array_equal(ids, self.expected_ids):
            return "read-back event_id set differs from the events"
        if _rows(read_rollup(spark, rollup, KEYS_DDL)) != self._expected_rollup():
            return "rollup store differs from one quantized_rollup over all events"
        return ""

    def verify(self) -> dict[str, str]:
        return {"batch": self.problems[0]} if self.problems else {}

    # ---- per-layer (traced run only) -------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        tr = self.ctx.tracer
        dur = lambda name: median([tr.duration(s) for s in tr.named(name)])  # noqa: E731
        ms = lambda key: [p["durationMs"].get(key, 0) / 1000.0 for p in self.progress]  # noqa: E731
        offset = [
            (p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("walCommit", 0)
             + p["durationMs"].get("commitOffsets", 0)) / 1000.0
            for p in self.progress
        ]
        last = self.round_stats[-1] if self.round_stats else {}
        traced = [s for s in self.round_stats if s["traced"] and "compacted_bytes" in s]
        written = sum(s["sink_bytes"] + s["compacted_bytes"] + s["rollup_bytes"] for s in traced)
        return {
            "streaming.batch_s": median(ms("triggerExecution")),
            "streaming.add_batch_s": median(ms("addBatch")),
            "streaming.offset_s": median(offset),
            "streaming.sink_write_s": dur("streaming.sink_write"),
            "streaming.rollup_apply_s": dur("streaming.rollup_apply"),
            "streaming.compact_s": median([s["compact_s"] for s in self.round_stats if "compact_s" in s]),
            "streaming.read_sink_s": median([s["read_sink_s"] for s in self.round_stats if "read_sink_s" in s]),
            "streaming.dirs_before_compact": last.get("dirs_before_compact", 0),
            "streaming.dirs_after_compact": last.get("dirs_after_compact", 0),
            "streaming.bytes_written_per_input_byte": (
                written / (self.input_bytes * len(traced)) if traced else 0.0
            ),
        }


def _batch_progress(query) -> list[dict]:
    """Progress of every trigger that committed a micro-batch."""
    if query is None:
        return []
    progress = (json.loads(p.json) for p in query.recentProgress)
    return [p for p in progress if "addBatch" in p.get("durationMs", {})]


def _rows(df) -> set[tuple]:
    return {tuple(r.values()) for r in df.toArrow().to_pylist()}
