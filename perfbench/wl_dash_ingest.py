"""dash_ingest: dashboard reads while ingest and maintenance write.

Setup builds a store with ``write_points`` from a seeded metric table:
hosts x five families (two counters, two gauges and a spool family the
retention policy drops), labels ``hostname`` and ``dc``, one sample a
minute over two days that end at the simulated clock ``gen.EPOCH_MS``,
so every series has thousands of points.

Three closed-loop clients share one ``serving.serve()`` endpoint:

- two dashboard clients POST /get and /list. Each walks a fixed 10-slot
  mix, the second from its middle: 3 single-series RATE over one day,
  3 dc-grouped SUM/AVERAGE aggregations over six hours, 3 AVERAGE
  resamples over one day with ``max_values``, 1 List of one family.
  The seed picks hosts, families and windows.
- one writer POSTs /add batches, each the next ``ADD_MINUTES`` simulated
  minutes of the four kept families for the writer's hosts, plus about
  2% points with invalid names and 2% exact duplicates, so validation
  and dedup do real work. A cycle is ``tick_every`` adds followed by
  one ``maintenance_tick`` at the simulated clock, with a policy that
  drops the spool family, keeps the last 42 hours raw and downsamples
  older data to 10-minute means. Ticks are count-triggered, so runs
  repeat.

A measured phase has two parts. In the read part the dashboard clients
run alone for ``--seconds`` on the setup-time store: the interactive
read path, where per-request fixed cost dominates. In the write part
the writer runs one cycle while the dashboard clients keep reading:
file count grows, the tick rewrites the store, and a gain for writes
that costs reads shows up there. The write part is a fixed amount of
work rather than a time window, so the number of ticks a run measures
never changes.

The store has no snapshot isolation: a tick deletes and rewrites date
directories in place, so a Get that lists files before a tick and reads
them after it fails. The benchmark fences reads against ticks with a
readers-writer lock, as a deployment must; a Get that waits on a tick
counts the wait as latency (``maint.get_stall_s``).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import common
import gen
import stats

SIZES = {"full": {"hosts": 8, "days": 2, "writer_hosts": 8, "tick_every": 3},
         "tiny": {"hosts": 4, "days": 2, "writer_hosts": 2, "tick_every": 2}}
CLIENTS = 2
WRITE = ".write"  # suffix of the phase in which the writer runs
MIX = ["rate", "agg", "res", "list", "rate", "agg", "res", "rate", "agg", "res"]
GET_KINDS = ("rate", "agg", "res")
COUNTERS = [f for f, k in gen.FAMILIES.items() if k == "counter"]
GAUGES = [f for f, k in gen.FAMILIES.items() if k == "gauge"]
DROPPED = "/bench/tmp/spool"
# data older than this is downsampled: the oldest few hours of the
# two-day history at the first tick, growing as the simulated clock runs
RAW_AGE = "42h"
STORE_FAMILIES = {**gen.FAMILIES, DROPPED: "gauge"}
INTERVAL_MS = 300_000
ADD_MINUTES = 8
INVALID_SHARE = 0.02
DUP_SHARE = 0.02


def policy():
    from open_instrument_spark.operators.retention import PolicyItem

    return [
        PolicyItem(variables=("/bench/tmp/*",), keep=False),
        PolicyItem(variables=("*",), keep=True, max_age=RAW_AGE),
        PolicyItem(variables=("*",), keep=True, min_age=RAW_AGE,
                   mutations=(("mean", "10m"),)),
    ]


class RWLock:
    """Readers share; a writer excludes everyone and is not starved."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._waiting_writers = 0

    @contextmanager
    def read(self):
        with self._cond:
            while self._writer or self._waiting_writers:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                self._cond.notify_all()

    @contextmanager
    def write(self):
        with self._cond:
            self._waiting_writers += 1
            while self._writer or self._readers:
                self._cond.wait()
            self._waiting_writers -= 1
            self._writer = True
        try:
            yield
        finally:
            with self._cond:
                self._writer = False
                self._cond.notify_all()


class DashIngest:
    name = "dash_ingest"

    def __init__(self, ctx: common.Ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.start_ms = gen.EPOCH_MS - self.size["days"] * gen.DAY_MS
        self.minutes = self.size["days"] * 1440
        self.log = common.OpLog()
        self.phase_bounds: dict[str, tuple[float, float]] = {}
        self.lock = RWLock()
        self.sim_ms = gen.EPOCH_MS
        self.n_adds = 0
        # per written series: a counter's level and a gauge's phase
        self.add_base = np.random.default_rng([ctx.seed, 8]).uniform(
            0, 1e6, size=len(gen.FAMILIES) * self.size["writer_hosts"])
        self.expected: list[pa.Table] = []
        self.add_counts: list[dict] = []
        self.srv = None

    # ---- setup -------------------------------------------------------------

    def setup(self) -> dict:
        from open_instrument_spark.sources.ingest import read_store, write_points

        spark = self.ctx.spark

        def build(rep: int) -> str:
            src = os.path.join(self.ctx.work, f"input_{rep}.parquet")
            store = os.path.join(self.ctx.work, f"store_{rep}")
            pq.write_table(gen.metric_points(self.ctx.seed, self.size["hosts"],
                                             STORE_FAMILIES, self.start_ms, self.minutes),
                           src)
            write_points(spark.read.parquet(src), store)
            read_store(spark, store).schema
            return store

        med, times, self.store = common.timed_setup(build)
        for rep in range(common.SETUP_REPS - 1):
            shutil.rmtree(os.path.join(self.ctx.work, f"store_{rep}"))
        self.srv = common.start_server(self.ctx.spark, self._points, add_sink=self._sink)
        return {"setup_s": med, "setup_reps_s": times}

    def _points(self):
        from open_instrument_spark.sources.ingest import read_store

        with common.traced(self.ctx, "store.read"):
            return read_store(self.ctx.spark, self.store)

    def _sink(self, df) -> None:
        from open_instrument_spark.sources.ingest import write_points

        with common.traced(self.ctx, "ingest.write"):
            write_points(df, self.store, mode="append")

    # ---- inputs ------------------------------------------------------------

    def request(self, kind: str, rng: np.random.Generator) -> tuple[str, dict]:
        """One dashboard request over the setup-time history."""
        host = gen.host_name(int(rng.integers(self.size["hosts"])))
        hours = (self.size["days"] - 1) * 24
        t0 = self.start_ms + int(rng.integers(0, hours)) * 3_600_000
        if kind == "rate":
            fam = COUNTERS[int(rng.integers(len(COUNTERS)))]
            return "/get", {"variable": f"{fam}{{hostname={host}}}",
                            "min_timestamp": t0, "max_timestamp": t0 + gen.DAY_MS,
                            "mutation": [{"sample_type": "RATE"}]}
        if kind == "agg":
            fam = GAUGES[int(rng.integers(len(GAUGES)))]
            agg = ["SUM", "AVERAGE"][int(rng.integers(2))]
            return "/get", {"variable": fam, "min_timestamp": t0,
                            "max_timestamp": t0 + 6 * 3_600_000,
                            "aggregation": [{"type": agg, "label": ["dc"],
                                             "sample_interval": INTERVAL_MS}]}
        if kind == "res":
            fam = GAUGES[int(rng.integers(len(GAUGES)))]
            return "/get", {"variable": f"{fam}{{hostname={host}}}",
                            "min_timestamp": t0, "max_timestamp": t0 + gen.DAY_MS,
                            "mutation": [{"sample_type": "AVERAGE",
                                          "sample_frequency": INTERVAL_MS}],
                            "max_values": 100}
        fam = list(gen.FAMILIES)[int(rng.integers(len(gen.FAMILIES)))]
        return "/list", {"variable": fam.rsplit("/", 1)[0] + "/*", "max_age": None}

    def add_batch(self, index: int, start_ms: int) -> tuple[dict, pa.Table, int]:
        """The AddRequest for ADD_MINUTES simulated minutes from
        ``start_ms``: returns (body, accepted points, invalid count)."""
        rng = np.random.default_rng([self.ctx.seed, 7, index])
        minutes = (start_ms - gen.EPOCH_MS) // gen.MINUTE_MS + np.arange(ADD_MINUTES)
        ts = start_ms + gen.MINUTE_MS * np.arange(ADD_MINUTES)
        streams, rows = [], {"name": [], "hostname": [], "ts_ms": [], "dval": []}
        for s_idx, (fam, kind) in enumerate(
                (f, k) for f, k in gen.FAMILIES.items()
                for _ in range(self.size["writer_hosts"])):
            h = s_idx % self.size["writer_hosts"]
            if kind == "counter":
                vals = self.add_base[s_idx] + minutes * (100.0 + s_idx)
            else:
                vals = 50 + 10 * np.sin(minutes / 30.0 + self.add_base[s_idx])
            vals = np.round(vals * 1024) / 1024
            streams.append({"variable": {"name": fam, "label": gen.series_labels(h)},
                            "value": [{"timestamp": int(t), "double_value": float(v)}
                                      for t, v in zip(ts, vals)]})
            rows["name"] += [fam] * ADD_MINUTES
            rows["hostname"] += [gen.host_name(h)] * ADD_MINUTES
            rows["ts_ms"] += [int(t) for t in ts]
            rows["dval"] += [float(v) for v in vals]
        n_valid = len(rows["ts_ms"])
        for k in rng.choice(len(streams), size=max(1, round(DUP_SHARE * n_valid))):
            s = streams[int(k)]
            s["value"].append(dict(s["value"][int(rng.integers(ADD_MINUTES))]))
        n_invalid = max(1, round(INVALID_SHARE * n_valid))
        for i in range(n_invalid):
            name = "bench/no_leading_slash" if i % 2 else "/bench/has space"
            streams.append({"variable": {"name": name, "label": gen.series_labels(0)},
                             "value": [{"timestamp": int(ts[int(rng.integers(ADD_MINUTES))]),
                                        "double_value": float(rng.uniform(0, 100))}]})
        return {"stream": streams}, pa.table(rows), n_invalid

    # ---- clients -----------------------------------------------------------

    def _dashboard(self, client: int, phase: str, done: threading.Event | None,
                   kinds: list[str] | None = None) -> None:
        rng = np.random.default_rng([self.ctx.seed, client, len(self.phase_bounds)])
        port = self.srv.server_address[1]
        i = client * len(MIX) // CLIENTS
        todo = list(kinds) if kinds is not None else None
        while True:
            if todo is not None:
                if not todo:
                    return
                kind = todo.pop(0)
            else:
                if done.is_set():
                    return
                kind = MIX[i % len(MIX)]
                i += 1
            path, body = self.request(kind, rng)
            common.timed_post(self.ctx, self.log, kind, port, path, body, phase,
                              guard=self.lock.read())

    def _add(self, phase: str) -> None:
        body, accepted, n_invalid = self.add_batch(self.n_adds, self.sim_ms)
        sent = sum(len(s["value"]) for s in body["stream"])
        out = common.timed_post(self.ctx, self.log, "add", self.srv.server_address[1],
                                "/add", body, phase)
        self.n_adds += 1
        if out is not None:
            self.expected.append(accepted)
            self.add_counts.append({"sent": sent, "accepted": out["accepted"],
                                    "valid": accepted.num_rows, "invalid": n_invalid})
        self.sim_ms += ADD_MINUTES * gen.MINUTE_MS

    def _tick(self, phase: str) -> None:
        from open_instrument_spark.plans.maintenance import maintenance_tick

        now = dt.datetime.fromtimestamp(self.sim_ms / 1000, tz=dt.timezone.utc
                                        ).replace(tzinfo=None)
        tracer = self.ctx.tracer
        rid = tracer.new_rid("tick") if tracer is not None else None
        t0 = time.time()
        try:
            with self.lock.write():
                if tracer is not None:
                    with tracer.operation("maint.tick", rid):
                        _, summary = maintenance_tick(self.ctx.spark, self.store, policy(), now)
                else:
                    _, summary = maintenance_tick(self.ctx.spark, self.store, policy(), now)
        except Exception as e:  # noqa: BLE001 - a failed tick is counted, not retried
            self.log.add(common.Op("tick", t0, time.time(), False, rid, {"phase": phase}),
                         f"{type(e).__name__}: {e}")
            return
        self.log.add(common.Op("tick", t0, time.time(), True, rid,
                               {"phase": phase, "dates": len(summary["compacted_dates"])}))

    def warm(self) -> None:
        """Both dashboard clients request every kind once while the
        writer adds once, all concurrently."""
        kinds = ["rate", "agg", "res", "list"]
        threads = [threading.Thread(target=self._dashboard, args=(c, "warm", None, kinds))
                   for c in range(CLIENTS)]
        threads.append(threading.Thread(target=self._add, args=("warm",)))
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def measure(self, phase: str) -> None:
        """Read part: the dashboard clients alone for ``--seconds``. Write
        part (phase name + ``WRITE``): one writer cycle, the dashboard
        clients running alongside."""
        self._with_dashboards(phase, lambda: time.sleep(self.ctx.seconds))
        self._with_dashboards(phase + WRITE, lambda: self._writer_cycle(phase + WRITE))

    def _with_dashboards(self, phase: str, body) -> None:
        t0 = time.time()
        done = threading.Event()
        readers = [threading.Thread(target=self._dashboard, args=(c, phase, done))
                   for c in range(CLIENTS)]
        for t in readers:
            t.start()
        try:
            body()
        finally:
            done.set()
            end = time.time()
            for t in readers:
                t.join()
        self.phase_bounds[phase] = (t0, end)

    def _writer_cycle(self, phase: str) -> None:
        for _ in range(self.size["tick_every"]):
            self._add(phase)
        self._tick(phase)

    def install_trace(self, tracer) -> None:
        from open_instrument_spark.plans import maintenance

        common.install_serving_trace(tracer)
        tracer.patch(maintenance, "run_retention_job", "maint.retention")
        tracer.patch(maintenance, "compact_dates", "maint.compact")

    # ---- correctness -------------------------------------------------------

    def check(self) -> list[str]:
        con = checks.store_con(self.store)
        return self._check_dashboard(con) + self._check_ingest(con)

    def _check_dashboard(self, con) -> list[str]:
        """One seeded request of each kind against DuckDB over the final
        store."""
        rng = np.random.default_rng([self.ctx.seed, 999])
        port = self.srv.server_address[1]
        problems = []
        for kind in ("rate", "agg", "res", "list"):
            path, body = self.request(kind, rng)
            try:
                out = common.post(port, path, body)
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                problems.append(f"{kind} check request failed: {e}")
                continue
            problems += getattr(checks, f"check_{kind}")(con, body, out)
        return problems

    def _check_ingest(self, con) -> list[str]:
        """Every add accepted exactly its valid points and rejected exactly
        the injected invalid ones; every accepted point reads back."""
        problems = []
        for i, c in enumerate(self.add_counts):
            if c["accepted"] != c["valid"]:
                problems.append(f"add {i}: accepted {c['accepted']}, sent {c['valid']} valid")
            dups = c["sent"] - c["valid"] - c["invalid"]
            if c["sent"] - c["accepted"] - dups != c["invalid"]:
                problems.append(f"add {i}: rejected {c['sent'] - c['accepted'] - dups}, "
                                f"injected {c['invalid']} invalid")
        expected = pa.concat_tables(self.expected)
        path = os.path.join(self.ctx.work, "expected.parquet")
        pq.write_table(expected, path)
        found = con.execute(f"""
            SELECT count(*) FROM read_parquet('{path}') e JOIN store s
              ON s.name = e.name AND s.hostname = e.hostname
             AND epoch_ms(s.ts) = e.ts_ms AND s.dval = e.dval""").fetchone()[0]
        if found != expected.num_rows:
            problems.append(f"{found} of {expected.num_rows} accepted points read back")
        self.live_points = con.execute("SELECT count(*) FROM store").fetchone()[0]
        return problems

    # ---- metrics -----------------------------------------------------------

    def _ops(self, phase: str, *kinds: str) -> list[common.Op]:
        return [o for o in self.log.of(*kinds) if o.info["phase"] == phase]

    def end_to_end(self, phase: str) -> dict:
        """Dashboard Get p50 of the read part; adds per second of writer
        wall time (ticks included) of the write part."""
        gets = [o.dur for o in self._ops(phase, *GET_KINDS)]
        adds = self._ops(phase + WRITE, "add")
        t0, t1 = self.phase_bounds[phase + WRITE]
        return {"latency_p50_ms": (stats.median(gets) * 1000, len(gets)),
                "throughput_ops_per_s": (len(adds) / (t1 - t0), len(adds))}

    def get_stall(self, phase: str) -> float:
        """Median Get latency while a tick ran minus the median outside
        ticks, in the write part."""
        ticks = [(o.start, o.end) for o in self._ops(phase, "tick")]
        gets = self._ops(phase, *GET_KINDS)
        hit = [any(g.start < e and g.end > s for s, e in ticks) for g in gets]
        during = [g.dur for g, h in zip(gets, hit) if h]
        outside = [g.dur for g, h in zip(gets, hit) if not h]
        if not during or not outside:
            return 0.0
        return stats.median(during) - stats.median(outside)

    def named(self, phase: str) -> dict:
        """Every end-to-end metric by name: (value, unit, n[, percentile])."""
        write = phase + WRITE

        def p50(ph, kinds):
            d = [o.dur for o in self._ops(ph, *kinds)]
            return (stats.median(d) if d else None, "s", len(d))

        def tail(ph, kinds):
            d = [o.dur for o in self._ops(ph, *kinds)]
            p, v = stats.tail(d)
            return (v, "s", len(d), p)

        t0, t1 = self.phase_bounds[phase]
        done = self._ops(phase, *GET_KINDS, "list")
        out = {"get_p50_s": p50(phase, GET_KINDS), "get_tail_s": tail(phase, GET_KINDS),
               "list_p50_s": p50(phase, ["list"]),
               "requests_per_s": (len(done) / (t1 - t0), "1/s", len(done))}
        for kind in GET_KINDS:
            out[f"get_{kind}_p50_s"] = p50(phase, [kind])
        adds = self._ops(write, "add")
        t0, t1 = self.phase_bounds[write]
        out.update({
            "add_p50_s": p50(write, ["add"]), "add_tail_s": tail(write, ["add"]),
            "ingest_points_per_s": (sum(o.info["n"] for o in adds) / (t1 - t0), "1/s",
                                    len(adds)),
            "tick_p50_s": p50(write, ["tick"]),
            "get_during_writes_p50_s": p50(write, GET_KINDS),
            "get_during_writes_tail_s": tail(write, GET_KINDS),
            "get_stall_s": (self.get_stall(write), "s", len(self._ops(write, *GET_KINDS))),
            "store_bytes_per_point": (self.store_stats()["bytes"] / max(1, self.live_points),
                                      "bytes", self.live_points)})
        return out

    def rejected_ratio(self) -> float:
        sent = sum(c["sent"] for c in self.add_counts)
        return sum(c["invalid"] for c in self.add_counts) / max(1, sent)

    def list_points(self) -> int:
        """Points per family in the setup-time store, which the read
        part's Lists scan."""
        return self.size["hosts"] * self.minutes

    def store_stats(self) -> dict:
        return common.store_files(self.store)

    def report(self) -> dict:
        return {"store": {**self.store_stats(), "live_points": self.live_points},
                "adds": len(self.add_counts),
                "simulated_minutes_added": (self.sim_ms - gen.EPOCH_MS) // gen.MINUTE_MS}

    def close(self) -> None:
        if self.srv is not None:
            common.stop_server(self.srv)
            self.srv = None
