"""The reference's ``ny_taxi_ml`` pipeline (filter, feature engineering,
split, GBT fit, predict) end to end through ``benchmark.run_workload``,
run as one op of each ``curation`` pass. The per-stage timings come from
each run's ``Timer`` results.

It is not a workload of its own: a timed window held four or five runs,
and over ten seeds its median spread 23% and its tail 30%, beyond the
benchmark's 25% bound. The ``plasticc`` pipeline is left out: at 4.5-6.5
s a run it would dominate every pass it joins.

The output is checked on the first warm-up run, outside any timed
region: the GBT regression must beat the constant train-mean predictor
on the held-out rows.
"""

from __future__ import annotations

from harness import OpResult, median, now

PIPELINE = "ny_taxi_ml"

# Timer stage -> per-layer metric it feeds.
_STAGE_METRIC = {
    "total.feature_engineering": "ml.features_s",
    "total.split_time": "ml.split_s",
    "total.train_time": "ml.fit_s",
    "total.predict_time": "ml.predict_s",
}


class Train:
    def __init__(self, ctx) -> None:
        from timedf_spark.benchmark import REGISTRY, Workload

        self.ctx = ctx
        wl = REGISTRY[PIPELINE]
        *head, (last, predict) = wl.stages
        stages = [*head, (last, self._capture(predict))]
        self.pipeline = Workload(wl.name, [(n, self._span(n, fn)) for n, fn in stages], wl.description)
        self._captured = None
        self._capturing = False
        self.stage_times: list[dict[str, float]] = []
        self.problem = ""

    def _span(self, name: str, fn):
        """The stage function inside an ``ml.<stage>`` span. The span
        covers the call only; ``run_workload``'s action barrier on the
        returned frame runs after it, inside the op's span."""

        def run(spark, sf_dir, state):
            with self.ctx.tracer.span(f"ml.{name}"):
                return fn(spark, sf_dir, state)

        return run

    def _capture(self, predict):
        """The predict stage, keeping its output and the run's state while
        ``_capturing`` is set."""

        def run(spark, sf_dir, state):
            out = predict(spark, sf_dir, state)
            if self._capturing:
                self._captured = (out, state)
            return out

        return run

    # ---- set-up ----------------------------------------------------------

    def warm_up(self, passes: int) -> None:
        for p in range(passes):
            self._capturing = p == 0
            (op,), _ = self.step()
            if not op.ok:
                self.problem = self.problem or op.error
        self._capturing = False
        self.stage_times.clear()

    # ---- timed loop ------------------------------------------------------

    def step(self) -> tuple[list[OpResult], float]:
        from timedf_spark.benchmark import run_workload

        spark, data, tracer = self.ctx.spark, self.ctx.data_dir, self.ctx.tracer
        t0 = now()
        try:
            with tracer.span(f"op:{PIPELINE}", op=PIPELINE):
                res = run_workload(spark, self.pipeline, data)
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op
            lat = now() - t0
            return [OpResult(PIPELINE, lat, False, repr(e)[:300])], lat
        lat = now() - t0
        self.stage_times.append(res.measurements)
        if lat > self.ctx.op_timeout_s:
            return [OpResult(PIPELINE, lat, False, f"exceeded {self.ctx.op_timeout_s} s")], lat
        return [OpResult(PIPELINE, lat)], lat

    # ---- output check (untimed) ------------------------------------------

    def verify(self) -> dict[str, str]:
        from pyspark.sql import functions as F

        if self.problem or self._captured is None:
            return {PIPELINE: self.problem or "no warm-up output to check"}
        pred, state = self._captured
        mean = state["train"].agg(F.avg("dist")).first()[0]
        row = pred.agg(
            F.sqrt(F.avg((F.col("prediction") - F.col("dist")) ** 2)).alias("model"),
            F.sqrt(F.avg((F.lit(mean) - F.col("dist")) ** 2)).alias("trivial"),
        ).first()
        if not row["model"] < row["trivial"]:
            return {PIPELINE: f"GBT rmse {row['model']:.4f} >= train-mean rmse {row['trivial']:.4f}"}
        return {}

    # ---- per-layer (traced run only) -------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        return {
            metric: median([t.get(stage, 0.0) for t in self.stage_times])
            for stage, metric in _STAGE_METRIC.items()
        }
