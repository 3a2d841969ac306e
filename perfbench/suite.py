"""Query-suite workloads (``olap`` and ``curation``): each op is one
registered query, built with ``QuerySpec.fn`` and run to its action
barrier (``sources.trigger``). A pass runs every query once in an order
drawn from the seeded RNG; the timed loop runs whole passes.

Outputs are checked once per query and run, on the first warm-up pass
(collected with ``toArrow``, compared after the timed loop against the
query's DuckDB oracle with ``tests/oracle_compare.compare``). Inputs and
program are the same for every later execution, so a query whose check
fails has every one of its timed ops counted as failed. The inputs are
the fixed testdata, so oracle results are kept on disk between runs,
keyed by the testdata scale and the oracle's SQL.
"""

from __future__ import annotations

import hashlib
import os
import sys

from harness import OpResult, median, now

OLAP = (
    "taxi_q1",
    "taxi_q2",
    "taxi_q3",
    "taxi_q4",
    "plasticc_multi_agg",
    "plasticc_etl",
    "ml_filter",
    "ml_features",
    "pricing_summary",
    "segment_revenue",
    "nation_revenue",
    "min_cost_supplier",
    "top_supplier_revenue",
    "cdc_merge_orders",
)

CURATION = (
    "curate_corpus",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "semantic_dedup_keepers",
    "incremental_near_dup",
    "ann_ivf_topk",
    "duplicate_substring_spans",
)

# ann_ivf_topk has no exact oracle: its (query, neighbour) pairs must
# recover at least this share of the exact top-k from ann_brute_topk.
ANN_RECALL_FLOOR = 0.8


class _OracleCache:
    """Stands in for the DuckDB connection ``oracle_compare.compare``
    reads (``execute(sql).fetch_arrow_table()``): answers from the
    on-disk cache, running DuckDB only on a miss."""

    def __init__(self, ctx, connect) -> None:
        self.ctx, self._connect, self._con, self._sql = ctx, connect, None, ""

    def execute(self, sql: str) -> "_OracleCache":
        self._sql = sql
        return self

    def fetch_arrow_table(self):
        import pyarrow as pa

        key = hashlib.sha256((self.ctx.inputs_key + self._sql).encode()).hexdigest()[:32]
        path = os.path.join(self.ctx.cache_dir, f"oracle-{key}.arrow")
        if os.path.exists(path):
            with pa.OSFile(path, "rb") as src:
                return pa.ipc.open_file(src).read_all()
        if self._con is None:
            self._con = self._connect(self.ctx.data_dir)
        table = self._con.execute(self._sql).fetch_arrow_table()
        os.makedirs(self.ctx.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, table.schema) as writer:
            writer.write_table(table)
        os.replace(tmp, path)
        return table

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


class _Collected:
    """An already-collected result, shaped like the DataFrame that
    ``oracle_compare.compare`` reads (it only calls ``toArrow``)."""

    def __init__(self, table) -> None:
        self._table = table

    def toArrow(self):
        return self._table


class QuerySuite:
    def __init__(self, ctx, names: tuple[str, ...]) -> None:
        from timedf_spark.queries import all_queries

        self.ctx = ctx
        registry = all_queries()
        self.specs = {n: registry[n] for n in names}
        self.brute = registry["ann_brute_topk"]
        self.collected: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.table_reads: dict[str, int] = {}

    # ---- set-up ----------------------------------------------------------

    def warm_up(self, passes: int) -> None:
        """Run every query ``passes`` times; the first pass collects each
        result for the output check. Warm-up keeps the registry order, so
        every run holds the same state when set-up ends: which frames the
        curation operators leave cached depends on the order they ran in
        (45 MB apart between two seeds' orders)."""
        spark, data = self.ctx.spark, self.ctx.data_dir
        for p in range(passes):
            for name in self.specs:
                try:
                    df = self.specs[name].fn(spark, data)
                    if p == 0:
                        self.collected[name] = df.toArrow()
                    else:
                        _trigger(df)
                except Exception as e:  # noqa: BLE001 — counted as a failed check
                    self.errors.setdefault(name, repr(e)[:300])

    def _order(self) -> list[str]:
        names = list(self.specs)
        self.ctx.rng.shuffle(names)
        return names

    # ---- timed loop ------------------------------------------------------

    def step(self) -> tuple[list[OpResult], float]:
        """One pass; returns its ops and its wall time."""
        t_pass = now()
        out = [self._op(name) for name in self._order()]
        return out, now() - t_pass

    def _op(self, name: str) -> OpResult:
        spark, data, tracer = self.ctx.spark, self.ctx.data_dir, self.ctx.tracer
        fn = self.specs[name].fn
        t0 = now()
        try:
            if tracer.enabled:
                with tracer.span(f"op:{name}", op=name, jobs=False):
                    with tracer.span("queries.build"):
                        df = fn(spark, data)
                    with tracer.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("queries.exec"):
                        _trigger(df)
            else:
                _trigger(fn(spark, data))
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op
            return OpResult(name, now() - t0, False, repr(e)[:300])
        lat = now() - t0
        if lat > self.ctx.op_timeout_s:
            return OpResult(name, lat, False, f"exceeded {self.ctx.op_timeout_s} s")
        return OpResult(name, lat)

    # ---- output checks (untimed) -----------------------------------------

    def verify(self) -> dict[str, str]:
        """{query: first problem} for every query whose output is wrong."""
        sys.path.insert(0, _tests_dir())
        import oracle_compare

        con = _OracleCache(self.ctx, oracle_compare.duckdb_connection)
        bad = dict(self.errors)
        for name, spec in self.specs.items():
            if name in bad:
                continue
            got = _Collected(self.collected[name])
            if name == "ann_ivf_topk":
                exact = self.brute.fn(self.ctx.spark, self.ctx.data_dir).toArrow()
                recall = _pair_recall(got.toArrow(), exact)
                if recall < ANN_RECALL_FLOOR:
                    bad[name] = f"recall {recall:.3f} < {ANN_RECALL_FLOOR}"
                continue
            issues = oracle_compare.compare(got, con, spec.oracle)
            if issues:
                bad[name] = "; ".join(issues)[:300]
        con.close()
        return bad

    # ---- per-layer probes (traced run only) ------------------------------

    def record_table_reads(self):
        """Context manager: count ``sources.load_table`` calls per table
        while the traced loop runs."""
        return _LoadTableRecorder(self.table_reads)

    def layer_metrics(self) -> dict[str, float]:
        tr = self.ctx.tracer
        out: dict[str, float] = {}
        for stage in ("build", "plan", "exec"):
            spans = tr.named(f"queries.{stage}")
            out[f"queries.{stage}_s"] = sum(map(tr.duration, spans)) / max(len(spans), 1)
        builds = tr.named("queries.build")
        out["queries.eager_jobs"] = sum(s.get("jobs", 0) for s in builds) / max(len(builds), 1)
        for name in self.specs:
            spans = [s for s in tr.spans if s.get("op") == name and s["name"].startswith("op:")]
            out[f"operators.{name}_s"] = median([tr.duration(s) for s in spans])
        out.update(self._scan_probe())
        return out

    def _scan_probe(self) -> dict[str, float]:
        """``load_table`` + ``trigger`` on each table the traced ops read,
        weighted by how often they read it."""
        from timedf_spark.sources import load_table
        import pyarrow.parquet as pq

        spark, data = self.ctx.spark, self.ctx.data_dir
        total_s = total_rows = reads = 0.0
        for table, n in self.table_reads.items():
            ts = []
            for _ in range(3):
                t0 = now()
                _trigger(load_table(spark, data, table))
                ts.append(now() - t0)
            rows = pq.ParquetFile(f"{data}/{table}.parquet").metadata.num_rows
            total_s += n * median(ts)
            total_rows += n * rows
            reads += n
        return {
            "sources.scan_s": total_s / reads if reads else 0.0,
            "sources.scan_rows_per_s": total_rows / total_s if total_s else 0.0,
        }


def dagg_probe(spark, data_dir: str) -> dict[str, float]:
    """Deterministic ``dsum``/``davg`` against plain ``sum``/``avg`` on
    lineitem, grouped by flag and status (median of three each)."""
    from pyspark.sql import functions as F
    from timedf_spark.functions.deterministic import davg, dsum
    from timedf_spark.sources import load_table

    def timed(aggs) -> float:
        ts = []
        for _ in range(3):
            li = load_table(spark, data_dir, "lineitem")
            t0 = now()
            _trigger(li.groupBy("l_returnflag", "l_linestatus").agg(*aggs))
            ts.append(now() - t0)
        return median(ts)

    det = timed([F.expr(dsum("l_extendedprice")).alias("s"), F.expr(davg("l_quantity")).alias("a")])
    plain = timed([F.sum("l_extendedprice").alias("s"), F.avg("l_quantity").alias("a")])
    return {"functions.dagg_s": det, "functions.dagg_overhead_ratio": det / plain}


def _pair_recall(approx, exact) -> float:
    """Share of the exact (query, neighbour) pairs the approximate top-k
    found; an empty exact result counts as recall 0."""

    def pairs(table) -> set:
        return set(zip(table.column("q_id").to_pylist(), table.column("vec_id").to_pylist()))

    want = pairs(exact)
    return len(want & pairs(approx)) / len(want) if want else 0.0


def _trigger(df) -> None:
    from timedf_spark.sources import trigger

    trigger(df)


def _tests_dir() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")


class _LoadTableRecorder:
    """Wraps every ``load_table`` binding in the program's modules with a
    counter, and restores the originals on exit."""

    def __init__(self, counts: dict[str, int]) -> None:
        self.counts = counts
        self._patched: list[tuple[object, object]] = []

    def __enter__(self):
        from timedf_spark.sources import readers

        orig = readers.load_table
        counts = self.counts

        def load_table(spark, sf_dir, name):
            counts[name] = counts.get(name, 0) + 1
            return orig(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("timedf_spark") and getattr(mod, "load_table", None) is orig:
                setattr(mod, "load_table", load_table)
                self._patched.append((mod, orig))
        return self

    def __exit__(self, *exc) -> None:
        for mod, orig in self._patched:
            setattr(mod, "load_table", orig)
