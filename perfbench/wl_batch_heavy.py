"""batch_heavy: registry queries run one after another with the noop
sink, on seeded ``events``/``documents``/``embeddings`` tables.

The queries fall in four groups, each timed on its own so that a change
to one query is a visible share of some metric:

- graph: eager work inside plan construction (``dedup_clusters``
  launches most of its jobs while the plan is built);
- kernel: grouped-map Arrow kernels (``mutate_ewma``);
- knn: in-cell exact kNN (``embed_knn_graph``);
- text: n-gram LM scoring (``text_lm_score``).

The first pass collects every query's result and checks it against the
query's DuckDB oracle from ``registry.ORACLES`` (row count, schema and
order-insensitive values); it is untimed and doubles as warm-up, and
the oracles run in DuckDB on a background thread meanwhile. The
measured phase then runs whole passes until ``--seconds`` have passed,
and at least two, so the pass count does not flip between runs.

The traced phase also runs each ``PROBES`` query once, outside the
passes, to count the jobs it launches during plan construction
(``embed_knn_graph_store`` builds, absorbs and reads a store on disk,
which costs about as much as the rest of a pass, so it stays out of
the timed passes).
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import common
import gen
import stats

GROUPS = {
    "graph": ["dedup_clusters"],
    "kernel": ["mutate_ewma"],
    "knn": ["embed_knn_graph"],
    "text": ["text_lm_score"],
}
QUERIES = [q for qs in GROUPS.values() for q in qs]
PROBES = ["embed_knn_graph_store"]
SIZES = {"full": {"events": 60_000, "docs": 1_500, "vecs": 1_500},
         "tiny": {"events": 3_000, "docs": 300, "vecs": 200}}


class BatchHeavy:
    name = "batch_heavy"

    def __init__(self, ctx: common.Ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.log = common.OpLog()
        self.phase_bounds: dict[str, tuple[float, float]] = {}
        self.passes: dict[str, list[float]] = {}
        self.rows: dict[str, int] = {}

    def setup(self) -> dict:
        def build(rep: int) -> str:
            out = os.path.join(self.ctx.work, f"tables_{rep}")
            gen.write_registry_tables(self.ctx.seed, out, self.size["events"],
                                      self.size["docs"], self.size["vecs"])
            for t in ("events", "documents", "embeddings"):
                self.ctx.spark.read.parquet(os.path.join(out, f"{t}.parquet")).schema
            return out

        med, times, self.dir = common.timed_setup(build)
        for rep in range(common.SETUP_REPS - 1):
            shutil.rmtree(os.path.join(self.ctx.work, f"tables_{rep}"))
        return {"setup_s": med, "setup_reps_s": times}

    def _run_oracles(self) -> None:
        from open_instrument_spark import registry

        from tools.check_oracle import duck_connect

        con = duck_connect(self.dir)
        con.execute("SET threads = 2")
        for q in QUERIES:
            try:
                self.oracles[q] = con.execute(registry.ORACLES[q]).df()
            except Exception as e:  # noqa: BLE001 - reported by check()
                self.oracles[q] = e

    def warm(self) -> None:
        """Untimed first pass: collect each result for the oracle check,
        while DuckDB computes the oracles."""
        from open_instrument_spark import registry

        self.oracles: dict = {}
        self.oracle_thread = threading.Thread(target=self._run_oracles)
        self.oracle_thread.start()
        self.results = {}
        for q in QUERIES:
            t0 = time.time()
            try:
                self.results[q] = registry.QUERIES[q](self.ctx.spark, self.dir).toPandas()
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                self.log.add(common.Op("query", t0, time.time(), False, None,
                                       {"phase": "warm", "query": q}),
                             f"{q}: {type(e).__name__}: {e}")
                continue
            self.rows[q] = len(self.results[q])
            self.log.add(common.Op("query", t0, time.time(), True, None,
                                   {"phase": "warm", "query": q}))

    def _run_query(self, q: str, phase: str, kind: str = "query") -> None:
        from open_instrument_spark import registry
        from spans import catalyst_phases

        tracer = self.ctx.tracer
        rid = tracer.new_rid("query") if tracer is not None else None
        info = {"phase": phase, "query": q, "rows": self.rows.get(q, 0)}
        t0 = time.time()
        try:
            if tracer is None:
                df = registry.QUERIES[q](self.ctx.spark, self.dir)
                df.write.mode("overwrite").format("noop").save()
            else:
                with tracer.operation("batch.query", rid):
                    with tracer.span("batch.build"):
                        df = registry.QUERIES[q](self.ctx.spark, self.dir)
                    with tracer.span("batch.catalyst") as span:
                        df._jdf.queryExecution().executedPlan()
                        span.attrs["catalyst"] = catalyst_phases(df)
                    with tracer.span("batch.exec"):
                        df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.log.add(common.Op(kind, t0, time.time(), False, rid, info),
                         f"{q}: {type(e).__name__}: {e}")
            return
        self.log.add(common.Op(kind, t0, time.time(), True, rid, info))

    def measure(self, phase: str) -> None:
        t0 = time.time()
        deadline = t0 + self.ctx.seconds
        passes = []
        while len(passes) < 2 or time.time() < deadline:
            p0 = time.time()
            for q in QUERIES:
                self._run_query(q, phase)
            passes.append(time.time() - p0)
        self.passes[phase] = passes
        self.phase_bounds[phase] = (t0, time.time())
        if self.ctx.tracer is not None:
            for q in PROBES:
                self._run_query(q, phase, kind="probe")

    def install_trace(self, tracer) -> None:
        """Spans are opened around each query's build, Catalyst and
        execution by ``_run_query`` itself."""

    def check(self) -> list[str]:
        from tools.check_oracle import compare

        self.oracle_thread.join()
        problems = []
        for q in QUERIES:
            want = self.oracles.get(q)
            if q not in self.results:
                problems.append(f"{q}: no result to check")
            elif not hasattr(want, "columns"):
                problems.append(f"{q}: oracle failed: {want!r}")
            else:
                problems += [f"{q}: {p}" for p in compare(q, self.results[q], want)]
        return problems

    def _ops(self, phase: str) -> list[common.Op]:
        return [o for o in self.log.of("query") if o.info["phase"] == phase]

    def end_to_end(self, phase: str) -> dict:
        """Median wall time of one pass over the query set; queries
        completed per second of measured time."""
        ops, passes = self._ops(phase), self.passes[phase]
        t0, t1 = self.phase_bounds[phase]
        return {"latency_p50_ms": (stats.median(passes) * 1000, len(passes)),
                "throughput_ops_per_s": (len(ops) / (t1 - t0), len(ops))}

    def query_medians(self, phase: str) -> dict[str, float]:
        per: dict[str, list[float]] = {}
        for o in self._ops(phase):
            per.setdefault(o.info["query"], []).append(o.dur)
        return {q: stats.median(d) for q, d in per.items()}

    def named(self, phase: str) -> dict:
        med = self.query_medians(phase)
        n = len(self.passes[phase])
        out = {"batch_s": (sum(med.values()), "s", n),
               "query_p50_s": (stats.median([o.dur for o in self._ops(phase)]), "s",
                               len(self._ops(phase)))}
        for g, qs in GROUPS.items():
            out[f"batch_{g}_s"] = (sum(med.get(q, 0.0) for q in qs), "s", n)
        return out

    def report(self) -> dict:
        return {"passes_s": self.passes, "per_query_p50_s": self.query_medians("untraced"),
                "rows": self.rows, "inputs": self.size}

    def close(self) -> None:
        pass
