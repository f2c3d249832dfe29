"""DuckDB twins used by the correctness checks (untimed)."""

from __future__ import annotations

import math
import os

import duckdb


def store_con(store_path: str, view: str = "store") -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the write_points store as a view; the
    hostname and dc labels are exposed as columns."""
    con = duckdb.connect()
    glob_path = os.path.join(store_path, "**", "*.parquet")
    con.execute(
        f"CREATE VIEW {view} AS SELECT name, labels, "
        f"map_extract(labels, 'hostname')[1] AS hostname, "
        f"map_extract(labels, 'dc')[1] AS dc, ts, dval, sval "
        f"FROM read_parquet('{glob_path}', hive_partitioning = true)")
    return con


def close(a: float, b: float, rtol: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-9)


def compare_series(label: str, got: list[tuple[int, float]],
                   want: list[tuple[int, float]]) -> list[str]:
    """(timestamp ms, value) lists must match in order and value."""
    if len(got) != len(want):
        return [f"{label}: {len(got)} values, DuckDB has {len(want)}"]
    for (gt, gv), (wt, wv) in zip(got, want):
        if gt != wt or not close(gv, wv):
            return [f"{label}: ({gt}, {gv}) != DuckDB ({wt}, {wv})"]
    return []


def _range(body) -> str:
    return (f"ts BETWEEN make_timestamp({body['min_timestamp']} * 1000) "
            f"AND make_timestamp({body['max_timestamp']} * 1000)")


def _one_series(body) -> tuple[str, str]:
    """(name, hostname) of a ``name{hostname=h}`` request variable."""
    name, rest = body["variable"].split("{")
    return name, rest.rstrip("}").split("=")[1]


def check_rate(con, body, out) -> list[str]:
    """Single-series RATE: per-second increase between consecutive
    points in range, negative steps dropped."""
    name, host = _one_series(body)
    want = con.execute(f"""
        SELECT t, r FROM (
          SELECT epoch_ms(ts) AS t,
                 (dval - lag(dval) OVER w)
                   / ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6) AS r
          FROM store WHERE name = ? AND hostname = ? AND {_range(body)}
          WINDOW w AS (ORDER BY ts))
        WHERE r IS NOT NULL AND r >= 0 ORDER BY t""", [name, host]).fetchall()
    got = [(v["timestamp"], v["double_value"]) for s in out["stream"] for v in s["value"]]
    return compare_series(f"rate {body['variable']}", got, want)


def check_agg(con, body, out) -> list[str]:
    """dc-grouped SUM/AVERAGE over tumbling sample_interval buckets."""
    agg = body["aggregation"][0]
    fn = {"SUM": "sum", "AVERAGE": "avg"}[agg["type"]]
    iv = agg["sample_interval"]
    rows = con.execute(f"""
        SELECT dc, (epoch_ms(ts) // {iv}) * {iv} AS b, {fn}(dval)
        FROM store WHERE name = ? AND dc IS NOT NULL AND {_range(body)}
        GROUP BY 1, 2 ORDER BY 1, 2""", [body["variable"]]).fetchall()
    want: dict[str, list] = {}
    for dc, b, v in rows:
        want.setdefault(dc, []).append((b, v))
    got = {s["variable"]["label"].get("dc"):
           [(v["timestamp"], v["double_value"]) for v in s["value"]]
           for s in out["stream"]}
    if set(got) != set(want):
        return [f"agg {body['variable']}: groups {sorted(got)} != {sorted(want)}"]
    return [p for dc in want for p in compare_series(
        f"agg {body['variable']} dc={dc}", got[dc], want[dc])]


def check_res(con, body, out) -> list[str]:
    """AVERAGE resample, checked structurally against the stored series:
    one stream, at most max_values increasing timestamps on the
    interval grid, every value inside the stored values' range."""
    name, host = _one_series(body)
    lo, hi = con.execute(
        f"SELECT min(dval), max(dval) FROM store WHERE name = ? AND hostname = ? "
        f"AND {_range(body)}", [name, host]).fetchone()
    label = f"res {body['variable']}"
    if len(out["stream"]) != 1:
        return [f"{label}: {len(out['stream'])} streams"]
    vals = out["stream"][0]["value"]
    iv = body["mutation"][0]["sample_frequency"]
    ts = [v["timestamp"] for v in vals]
    if not vals or len(vals) > body["max_values"]:
        return [f"{label}: {len(vals)} values"]
    if any(t % iv for t in ts) or ts != sorted(set(ts)):
        return [f"{label}: timestamps not increasing on the {iv} ms grid"]
    if any(not (lo - 1e-9 <= v["double_value"] <= hi + 1e-9) for v in vals):
        return [f"{label}: value outside the stored range [{lo}, {hi}]"]
    return []


def check_list(con, body, out) -> list[str]:
    """List of a name prefix: exactly the distinct stored series."""
    prefix = body["variable"].rstrip("*")
    want = set(con.execute(
        "SELECT DISTINCT name, hostname, dc FROM store WHERE starts_with(name, ?)",
        [prefix]).fetchall())
    got = {(v["name"], v["label"].get("hostname"), v["label"].get("dc"))
           for v in out["variable"]}
    if got != want:
        return [f"list {prefix}*: {len(got)} series, DuckDB has {len(want)}"]
    return []
