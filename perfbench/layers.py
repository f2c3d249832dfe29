"""Per-layer metrics of a traced run, computed from the spans and the
Spark event log. Metric names, units and the layer -> end-to-end map
are in ``layers.json``; BENCHMARK.json lists the same metrics."""

from __future__ import annotations

import json
import os

import stats
from spans import exec_totals, job_time, jobs_within, span_self_times
from wl_dash_ingest import GET_KINDS, WRITE

HERE = os.path.dirname(os.path.abspath(__file__))
EXEC_KEYS = ("jobs", "stages", "tasks", "job_s", "executor_run_s", "executor_cpu_s",
             "gc_s", "python_udf_s", "input_rows", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def load_layers() -> dict:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def layer_metrics() -> list[tuple[str, str, str]]:
    return [tuple(m) for layer in load_layers()["layers"] for m in layer["metrics"]]


def end_to_end_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def _first(spans, name):
    return next((s for s in spans if s.name == name), None)


class _Analysis:
    def __init__(self, wl, tracer, jobs):
        self.wl, self.jobs = wl, jobs
        self.spans = tracer.by_rid()
        self.vals: dict[str, float] = {}
        self.report: dict = {}

    def traced(self, *kinds, phase: str = "traced"):
        return [o for o in self.wl.log.of(*kinds)
                if o.info.get("phase") == phase and o.rid in self.spans]

    # ---- serving: Get / List ------------------------------------------------

    def gets(self) -> list[dict]:
        rows = []
        for op in self.traced(*GET_KINDS):
            sp, J = self.spans[op.rid], self.jobs.get(op.rid, [])
            root = _first(sp, "server.request")
            parse, build, render = (_first(sp, n) for n in
                                    ("serving.parse", "api.build", "serving.render"))
            read = _first(sp, "store.read")
            if None in (root, parse, build, render):
                continue
            build_jobs = jobs_within(J, build.start, build.end)
            render_jobs = jobs_within(J, render.start, render.end)
            render_job_s = job_time(render_jobs)
            ex = exec_totals(J)
            cat = render.attrs.get("catalyst", {})
            values = render.attrs.get("values", 0)
            accounted = ((op.dur - root.dur) + (read.dur if read else 0.0)
                         + parse.dur + build.dur + render.dur)
            rows.append({
                "wall": op.dur, "http": op.dur - root.dur, "parse": parse.dur,
                "read": read.dur if read else 0.0, "build": build.dur,
                "build_jobs": len(build_jobs), "build_job_s": job_time(build_jobs),
                "render_self": render.dur - render_job_s, "render_job_s": render_job_s,
                "values": values, "residual": op.dur - accounted,
                "analysis": cat.get("analysis", 0.0),
                "optimization": cat.get("optimization", 0.0),
                "planning": cat.get("planning", 0.0),
                "rows_per_value": ex["input_rows"] / max(1, values), **ex})
        if not rows:
            return rows
        col = lambda k: _med(r[k] for r in rows)  # noqa: E731
        v = self.vals
        v["serving.parse_s"] = col("parse")
        v["serving.render_s"] = col("render_self")
        v["serving.http_s"] = col("http")
        v["serving.values_returned"] = col("values")
        v["api.build_s"] = col("build")
        v["api.build_jobs"] = col("build_jobs")
        v["api.build_job_s"] = col("build_job_s")
        v["catalyst.analysis_s"] = col("analysis")
        v["catalyst.optimization_s"] = col("optimization")
        v["catalyst.planning_s"] = col("planning")
        v["obs.get_jobs_p50"] = col("jobs")
        self.report["get_split_p50_s"] = {
            k: col(k) for k in ("wall", "http", "read", "parse", "build", "build_job_s",
                                "render_self", "render_job_s", "residual")}
        self.report["get_samples"] = len(rows)
        v["trace.residual_share"] = col("residual") / max(col("wall"), 1e-9)
        v["exec.rows_read_per_row_returned"] = col("rows_per_value")
        for k in EXEC_KEYS:
            v[f"exec.{k}"] = col(k)
        return rows

    def lists(self, points_per_family: int) -> None:
        rows = []
        for op in self.traced("list"):
            sp, J = self.spans[op.rid], self.jobs.get(op.rid, [])
            build = _first(sp, "list.build")
            if build is None:
                continue
            ex = exec_totals(J)
            rows.append({"build": build.dur, "wall": op.dur, "series": op.info.get("n", 0),
                         "input_rows": ex["input_rows"], "jobs": ex["jobs"]})
        if not rows:
            return
        self.vals["list.build_s"] = _med(r["build"] for r in rows)
        self.vals["obs.list_input_rows_per_point"] = _med(
            r["input_rows"] / points_per_family for r in rows)
        self.vals["obs.list_rows_per_series"] = _med(
            r["input_rows"] / max(1, r["series"]) for r in rows)
        self.report["list_samples"] = len(rows)

    # ---- ingest + maintenance ----------------------------------------------

    def adds(self) -> list[dict]:
        rows = []
        for op in self.traced("add", phase="traced" + WRITE):
            sp, J = self.spans[op.rid], self.jobs.get(op.rid, [])
            parse, build, write = (_first(sp, n) for n in
                                   ("ingest.parse", "ingest.build", "ingest.write"))
            if None in (parse, build, write):
                continue
            sink_jobs = jobs_within(J, write.start, write.end)
            ex = exec_totals(J)
            rows.append({"parse": parse.dur, "build": build.dur, "write": write.dur,
                         "jobs": len(J), "count_jobs": len(J) - len(sink_jobs),
                         "ingested_bytes": exec_totals(sink_jobs)["output_bytes"]})
        if rows:
            v = self.vals
            v["ingest.parse_s"] = _med(r["parse"] for r in rows)
            v["ingest.build_s"] = _med(r["build"] for r in rows)
            v["ingest.write_s"] = _med(r["write"] for r in rows)
            v["ingest.jobs_per_add"] = _med(r["jobs"] for r in rows)
            v["ingest.count_jobs_per_add"] = _med(r["count_jobs"] for r in rows)
            self.report["add_samples"] = len(rows)
        return rows

    def ticks(self, add_rows) -> None:
        rows = []
        for op in self.traced("tick", phase="traced" + WRITE):
            sp, J = self.spans[op.rid], self.jobs.get(op.rid, [])
            ret, comp = _first(sp, "maint.retention"), _first(sp, "maint.compact")
            if ret is None or comp is None:
                continue
            rows.append({"wall": op.dur, "retention": ret.dur, "compact": comp.dur,
                         "scan": op.dur - ret.dur - comp.dur,
                         "bytes": exec_totals(J)["output_bytes"],
                         "dates": op.info.get("dates", 0)})
        if not rows:
            return
        v = self.vals
        v["maint.retention_s"] = _med(r["retention"] for r in rows)
        v["maint.compact_s"] = _med(r["compact"] for r in rows)
        v["maint.scan_s"] = _med(r["scan"] for r in rows)
        v["maint.bytes_rewritten"] = _med(r["bytes"] for r in rows)
        v["maint.dates_compacted"] = _med(r["dates"] for r in rows)
        ingested = sum(r["ingested_bytes"] for r in add_rows)
        v["maint.rewrite_ratio"] = sum(r["bytes"] for r in rows) / max(1, ingested)
        self.report["tick_samples"] = len(rows)

    # ---- batch --------------------------------------------------------------

    def queries(self) -> None:
        per_q: dict[str, list[dict]] = {}
        probes: dict[str, list[dict]] = {}
        for op in self.traced("query", "probe"):
            sp, J = self.spans[op.rid], self.jobs.get(op.rid, [])
            build, cat, ex_span = (_first(sp, n) for n in
                                   ("batch.build", "batch.catalyst", "batch.exec"))
            if None in (build, cat, ex_span):
                continue
            eager = jobs_within(J, build.start, build.end)
            exec_jobs = jobs_within(J, ex_span.start, ex_span.end)
            phases = cat.attrs.get("catalyst", {})
            rows = exec_totals(exec_jobs)
            target = per_q if op.kind == "query" else probes
            target.setdefault(op.info["query"], []).append({
                "wall": op.dur, "build": build.dur, "eager_jobs": len(eager),
                "eager_s": job_time(eager), "catalyst": cat.dur, "exec": ex_span.dur,
                "analysis": phases.get("analysis", 0.0),
                "optimization": phases.get("optimization", 0.0),
                "planning": phases.get("planning", 0.0),
                "rows_out": op.info.get("rows", 0),
                "residual": op.dur - build.dur - cat.dur - ex_span.dur, **rows})
        if not per_q:
            return
        med = {q: {k: _med(r[k] for r in rs) for k in rs[0]} for q, rs in per_q.items()}
        total = lambda k: sum(m[k] for m in med.values())  # noqa: E731
        v = self.vals
        v["batch.build_s"] = total("build")
        v["batch.eager_jobs"] = total("eager_jobs")
        v["batch.eager_s"] = total("eager_s")
        v["batch.catalyst_s"] = total("catalyst")
        v["batch.exec_s"] = total("exec")
        v["catalyst.analysis_s"] = total("analysis")
        v["catalyst.optimization_s"] = total("optimization")
        v["catalyst.planning_s"] = total("planning")
        for k in EXEC_KEYS:
            v[f"exec.{k}"] = total(k)
        v["exec.rows_read_per_row_returned"] = total("input_rows") / max(1, total("rows_out"))
        v["trace.residual_share"] = total("residual") / max(total("wall"), 1e-9)
        names = {n for n, _u, _b in layer_metrics()}
        for q, row in [*med.items(), *((q, rs[0]) for q, rs in probes.items())]:
            if f"obs.eager_jobs_{q}" in names:
                v[f"obs.eager_jobs_{q}"] = row["eager_jobs"]
        self.report["per_query_p50"] = med
        self.report["probes"] = {q: rs[0] for q, rs in probes.items()}


def per_layer(workload: str, wl, tracer, jobs, session_start_s: float,
              e2e: dict, traced_e2e: dict):
    """Returns ({metric: (value, unit)} for every per-layer metric, report).
    A metric whose layer does not run on this workload reads 0."""
    a = _Analysis(wl, tracer, jobs)
    a.vals["session.start_s"] = session_start_s
    if workload == "dash_ingest":
        a.gets()
        a.lists(wl.list_points())
        a.ticks(a.adds())
        st = wl.store_stats()
        a.vals.update({"maint.get_stall_s": wl.get_stall("traced" + WRITE),
                       "ingest.rejected_ratio": wl.rejected_ratio(),
                       "store.files": st["files"],
                       "store.files_per_date_max": st["files_per_date_max"],
                       "store.bytes": st["bytes"]})
    else:
        a.queries()
    # overhead against the untraced phase that ran right after the traced
    # one; that phase runs warmer, so the ratio errs high
    traced_lat = traced_e2e["latency_p50_ms"][0]
    a.vals["trace.latency_p50_ms"] = traced_lat
    a.vals["trace.overhead_ratio"] = traced_lat / e2e["latency_p50_ms"][0] - 1.0
    metrics = {name: (float(a.vals.get(name, 0.0)), unit)
               for name, unit, _b in layer_metrics()}
    report = dict(a.report)
    self_times: dict[str, list[float]] = {}
    for span, t in zip(tracer.spans, span_self_times(tracer.spans)):
        self_times.setdefault(span.name, []).append(t)
    report["span_self_p50_s"] = {k: _med(v) for k, v in sorted(self_times.items())}
    report["not_run_on_this_workload"] = sorted(n for n, _u, _b in layer_metrics()
                                                if n not in a.vals)
    report["untraced_vs_traced"] = {"untraced": e2e, "traced": traced_e2e}
    report["observations"] = observations(workload, a.vals)
    return metrics, report


def observations(workload: str, v: dict) -> dict:
    """Confirm or refute the four observations the benchmark was built
    to check, on the workload where each applies."""
    out = {}
    if workload == "dash_ingest" and "obs.get_jobs_p50" in v:
        n = v["obs.get_jobs_p50"]
        verdict = "confirmed" if n == 3 else "refuted"
        out["3 Spark jobs per Get"] = f"{verdict}: median {n:.0f} jobs per Get"
    if workload == "dash_ingest" and "obs.list_input_rows_per_point" in v:
        r = v["obs.list_input_rows_per_point"]
        out["List cost tracks total points, not series"] = (
            f"{'confirmed' if r >= 0.9 else 'refuted'}: a List reads {r:.2f} x the "
            f"listed family's points ({v['obs.list_rows_per_series']:.0f} rows read per "
            f"series returned)")
    if workload == "dash_ingest" and "ingest.count_jobs_per_add" in v:
        c = v["ingest.count_jobs_per_add"]
        out["ingest pipeline executes twice per add"] = (
            f"{'confirmed' if c >= 1 else 'refuted'}: {v['ingest.jobs_per_add']:.0f} jobs per add, "
            f"{c:.0f} of them before the sink (the count) and the rest in the sink")
    if workload == "batch_heavy":
        for q in ("embed_knn_graph_store", "dedup_clusters"):
            key = f"obs.eager_jobs_{q}"
            if key in v:
                out[f"{q} launches >= 19 jobs during plan build"] = (
                    f"{'confirmed' if v[key] >= 19 else 'refuted'}: {v[key]:.0f} eager jobs")
    return out
