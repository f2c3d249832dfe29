"""Pieces shared by the workloads: the run context, the operation log,
the loopback HTTP client and the traced server hooks."""

from __future__ import annotations

import contextlib
import io
import json
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

import stats

SETUP_REPS = 3


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    size: str
    work: str
    tracer: object = None  # spans.Tracer while a traced phase runs


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    rid: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class OpLog:
    """Thread-safe record of every attempted operation."""

    def __init__(self):
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def add(self, op: Op, error: str | None = None) -> None:
        with self._lock:
            self.ops.append(op)
            if error is not None and len(self.errors) < 20:
                self.errors.append(f"{op.kind}: {error}")

    def of(self, *kinds: str) -> list[Op]:
        """The successful operations of these kinds."""
        return [o for o in self.ops if o.kind in kinds and o.ok]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)


def post(port: int, path: str, body: dict, timeout: float = 60.0) -> dict:
    """POST JSON to the loopback server; raises on a non-200 reply or
    an unsuccessful response."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        out = json.loads(resp.read())
    if not out.get("success"):
        raise RuntimeError(f"unsuccessful response: {out.get('error')}")
    return out


def timed_post(ctx: Ctx, log: OpLog, kind: str, port: int, path: str,
               body: dict, phase: str, guard=None) -> dict | None:
    """One closed-loop request: time it, log it, never retry. In a traced
    phase the request id rides in the body under ``_rid``, which the
    engine ignores. ``guard`` is entered after the clock starts, so time
    spent waiting on it counts as latency."""
    rid = None
    if ctx.tracer is not None:
        rid = ctx.tracer.new_rid(kind)
        body = dict(body, _rid=rid)
    t0 = time.time()
    try:
        with guard if guard is not None else contextlib.nullcontext():
            out = post(port, path, body)
    except (OSError, urllib.error.URLError, ValueError, RuntimeError) as e:
        log.add(Op(kind, t0, time.time(), False, rid, {"phase": phase}),
                f"{type(e).__name__}: {e}")
        return None
    n = (sum(len(s["value"]) for s in out.get("stream", []))
         + len(out.get("variable", [])) + out.get("accepted", 0))
    log.add(Op(kind, t0, time.time(), True, rid, {"phase": phase, "n": n}))
    return out


def start_server(spark, points_provider, add_sink=None):
    from open_instrument_spark.plans import serving

    return serving.serve(spark, points_provider, add_sink=add_sink)


def stop_server(srv) -> None:
    srv.shutdown()
    srv.server_close()


def install_serving_trace(tracer) -> None:
    """Spans around the serving, plan and ingest layers as the HTTP
    handler calls them."""
    from open_instrument_spark.plans import serving

    def rid_of(args):
        handler = args[0]
        n = int(handler.headers.get("Content-Length") or 0)
        raw = handler.rfile.read(n)
        handler.rfile = io.BytesIO(raw)
        try:
            return json.loads(raw or b"{}").get("_rid")
        except ValueError:
            return None

    def render_attrs(span, args, out):
        from spans import catalyst_phases

        span.attrs["catalyst"] = catalyst_phases(args[0])
        span.attrs["values"] = sum(len(s["value"]) for s in out)

    tracer.patch_root(serving._Handler, "do_POST", "server.request", rid_of)
    tracer.patch(serving, "get_json", "serving.get")
    tracer.patch(serving, "list_json", "serving.list")
    tracer.patch(serving, "add_json", "serving.add")
    tracer.patch(serving, "parse_get_request", "serving.parse")
    tracer.patch(serving, "api_get", "api.build")
    tracer.patch(serving, "_streams_json", "serving.render", on_exit=render_attrs)
    tracer.patch(serving, "list_series", "list.build")
    tracer.patch(serving, "points_from_add_json", "ingest.parse")
    tracer.patch(serving, "ingest_batch", "ingest.build")


def traced(ctx: Ctx, name: str):
    """A child span when tracing, else a no-op context."""
    return ctx.tracer.span(name) if ctx.tracer is not None else contextlib.nullcontext()


def timed_setup(build, reps: int = SETUP_REPS):
    """Run ``build(rep)`` ``reps`` times; returns (median seconds, all
    seconds, last result). Every rep does the same work."""
    times, result = [], None
    for rep in range(reps):
        t0 = time.perf_counter()
        result = build(rep)
        times.append(time.perf_counter() - t0)
    return stats.median(times), times, result


def store_files(path: str) -> dict:
    """Parquet file count, bytes and the largest per-date file count."""
    import glob
    import os

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    per_date: dict[str, int] = {}
    for f in files:
        for part in f.split(os.sep):
            if part.startswith("dt="):
                per_date[part] = per_date.get(part, 0) + 1
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files),
            "files_per_date_max": max(per_date.values(), default=0)}
