"""Output checks, run after the timed window.

Rows are checked against the generator's arithmetic (every value is a
function of building and second), aggregates against DuckDB over the
store's visible parquet files, and counts against what was written or
landed. Each check returns a list of failure messages, one per wrong
operation.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import numpy as np

import common
import store

REL_TOL = 1e-9


def parsed(op):
    """Response body of a query as a list of result objects (chunked
    responses are concatenated)."""
    if op.parsed is None:
        if op.params.get("chunked") == "true":
            op.parsed = [r for env in op.resp.chunks() for r in env["results"]]
        else:
            op.parsed = op.resp.json()["results"]
    return op.parsed


def series_rows(op) -> tuple[list, list]:
    """(columns, rows) of a single-series response."""
    cols, rows = None, []
    for res in parsed(op):
        if "error" in res:
            raise ValueError(res["error"])
        for s in res.get("series", []):
            cols = s["columns"]
            rows += s["values"]
    return cols or [], rows


def row_count(op) -> int:
    try:
        return len(series_rows(op)[1])
    except (ValueError, KeyError, json.JSONDecodeError, AttributeError):
        return 0


def close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)


def _ts(v, epoch: bool) -> int:
    if epoch:
        return int(v) // 1000
    return int(dt.datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ")
               .replace(tzinfo=dt.timezone.utc).timestamp())


class Duck:
    """DuckDB over the visible parquet files of one table."""

    def __init__(self, table_root: str):
        import duckdb

        files = common.visible_parquet(table_root)
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        self.con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet([{listed}], "
            "hive_partitioning = true, union_by_name = true)")

    def rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def close(self):
        self.con.close()


def _iso_sql(expr: str) -> str:
    return f"strftime({expr}, '%Y-%m-%dT%H:%M:%SZ')"


HOUR_SQL = _iso_sql("date_trunc('hour', time)")
DAY_SQL = _iso_sql("date_trunc('day', time)")


# ------------------------------------------------------------- write_mix

def write_mix(ctx, ops, writes, tables) -> list[str]:
    from write_mix import BASE_END, SHOW

    duck = Duck(os.path.join(tables, store.MEASUREMENT))
    expected_cache: dict[str, object] = {}
    fails = []
    try:
        for op in ops:
            msg = _check_write_mix_op(ctx, op, writes, duck, expected_cache, SHOW, BASE_END)
            if msg:
                fails.append(f"{op.kind}: {msg}")
    finally:
        duck.close()
    return fails


def _status_error(op) -> str | None:
    if op.error:
        return op.error
    want = 204 if op.is_write else 200
    if op.status != want:
        return f"HTTP {op.status}: {op.resp.body[:200]!r}"
    return None


def _check_write_mix_op(ctx, op, writes, duck, cache, show, base_end) -> str | None:
    err = _status_error(op)
    if err or op.is_write:
        return err
    try:
        cols, rows = series_rows(op)
    except (ValueError, KeyError, json.JSONDecodeError) as exc:
        return f"bad response: {exc}"
    k = op.kind
    if k in ("raw10m", "export"):
        return check_raw(ctx.seed, op, cols, rows)
    if k == "show":
        return None if rows == show[op.q] else f"got {rows}"
    if k == "hourly":
        if op.q not in cache:
            cache[op.q] = [list(r) for r in duck.rows(
                f"SELECT {HOUR_SQL} AS h, avg(coldInFlowRate), "
                "min(hotInTemp), count(hotInFlowRate) FROM t WHERE buildingID = ? "
                "AND time >= to_timestamp(?) AND time < to_timestamp(?) GROUP BY h ORDER BY h",
                (op.building, op.t0, op.t0 + op.n))]
        return _same_rows(rows, cache[op.q])
    if k == "daily":
        if op.q not in cache:
            cache[op.q] = [list(r) for r in duck.rows(
                f"SELECT {DAY_SQL} AS d, buildingID, "
                "max(coldInFlowRate), sum(hotInFlowRate), count(hotInTemp) FROM t "
                "WHERE time >= to_timestamp(?) AND time < to_timestamp(?) "
                "GROUP BY d, buildingID ORDER BY d, buildingID", (op.t0, op.t0 + op.n))]
        return _same_rows(sorted(rows, key=lambda r: (r[0], r[1])), cache[op.q])
    if k == "recent":
        got = {r[0]: r[1] for r in rows}
        for b in store.BUILDINGS:
            lo = sum(w.n for w in writes if w.building == b and w.status == 204
                     and w.done <= op.sent)
            hi = sum(w.n for w in writes if w.building == b and w.sent is not None
                     and w.sent <= op.done)
            if not lo <= got.get(b, 0) <= hi:
                return f"building {b}: count {got.get(b, 0)} outside [{lo}, {hi}]"
        return None
    if k == "last":
        got = {r[0]: r[1] for r in rows}
        for b in store.BUILDINGS:
            ends = _candidate_last(op, [w for w in writes if w.building == b], base_end)
            ok = {store.row_values(ctx.seed, b, t)[0] for t in ends}
            if got.get(b) not in ok:
                return f"building {b}: last {got.get(b)} not in {sorted(ok)}"
        return None
    return f"unknown kind {k}"


def _candidate_last(op, writes, base_end) -> list[int]:
    """Last timestamps a read may see for one building: that of the
    newest write acknowledged before it was sent, or of any write sent
    before its answer arrived."""
    acked = [w for w in writes if w.status == 204 and w.done <= op.sent]
    floor = max((w.t0 + w.n for w in acked), default=base_end)
    ends = [floor - 1]
    ends += [w.t0 + w.n - 1 for w in writes
             if w.sent is not None and w.sent <= op.done and w.t0 + w.n > floor]
    return ends


def check_raw(seed: int, op, cols, rows) -> str | None:
    if len(rows) != op.n:
        return f"{len(rows)} rows, want {op.n}"
    epoch = op.params.get("epoch") == "ms"
    idx = {c: i for i, c in enumerate(cols)}
    t = np.arange(op.t0, op.t0 + op.n, dtype=np.int64)
    want = store.field_values(seed, op.building, t)
    day = dt.datetime.fromtimestamp(op.t0, dt.timezone.utc).date().isoformat()
    for i, r in enumerate(rows):
        if _ts(r[idx["time"]], epoch) != op.t0 + i:
            return f"row {i}: time {r[idx['time']]}"
        if r[idx["buildingID"]] != op.building or r[idx["date"]] != day:
            return f"row {i}: tags {r}"
        for k, f in enumerate(store.FIELDS):
            if r[idx[f]] != want[k][i]:
                return f"row {i}: {f}={r[idx[f]]}, want {want[k][i]}"
    return None


def _same_rows(got: list, want: list) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row {g} vs {w}"
        for a, b in zip(g, w):
            same = a == b if isinstance(b, str) else close(a, b)
            if not same:
                return f"row {g} vs DuckDB {w}"
    return None


def durable(ctx, op, writes, tables, days) -> list[str]:
    """Per-building count and sum after a restart: the stored base plus
    every acknowledged write, as the server, DuckDB and the generator
    all compute them."""
    err = _status_error(op)
    if err:
        return [f"durable: {err}"]
    got = {r[0]: (r[1], r[2]) for r in series_rows(op)[1]}
    duck = Duck(os.path.join(tables, store.MEASUREMENT))
    try:
        theirs = {b: (n, s) for b, n, s in duck.rows(
            "SELECT buildingID, count(coldInFlowRate), sum(hotInTemp) FROM t "
            "GROUP BY buildingID")}
    finally:
        duck.close()
    base = np.arange(store.BASE_START, store.BASE_START + days * store.DAY, dtype=np.int64)
    for b in store.BUILDINGS:
        ts = [base] + [np.arange(w.t0, w.t0 + w.n, dtype=np.int64)
                       for w in writes if w.building == b and w.status == 204]
        t = np.concatenate(ts)
        n, s = len(t), float(store.field_values(ctx.seed, b, t)[3].sum())
        g, d = got.get(b, (0, None)), theirs.get(b, (0, None))
        if not g[0] == d[0] == n:
            return [f"durable: building {b}: count {g[0]} after restart, "
                    f"DuckDB {d[0]}, stored plus acknowledged {n}"]
        if not (close(g[1], s) and close(d[1], s)):
            return [f"durable: building {b}: sum {g[1]}, DuckDB {d[1]}, generated {s}"]
    return []


# ----------------------------------------------------------- landing_etl

def landing_etl(tables: str, dirs: dict, want: dict) -> list[str]:
    fails = []
    got_files = {k: sum(len(f) for _, _, f in os.walk(dirs[k]))
                 for k in ("archived", "quarantined")}
    for k in ("archived", "quarantined"):
        if got_files[k] != want[k]:
            fails.append(f"{k} files: {got_files[k]}, generated {want[k]}")
    left = [f for f in os.listdir(dirs["landing"]) if not f.startswith(".")]
    if left:
        fails.append(f"{len(left)} files left in landing")
    for table in ("raw_data", "qc_data"):
        root = os.path.join(tables, table)
        n = 0
        if common.visible_parquet(root):
            duck = Duck(root)
            n = duck.rows("SELECT count(*) FROM t")[0][0]
            duck.close()
        if n != want[table]:
            fails.append(f"{table} rows: {n}, generated {want[table]}")
    return fails
