"""write_mix: dataloggers and a dashboard against one wire server.

The run is a sequence of groups. Each group starts with a 2,000-point
line-protocol ``/write`` that extends ``campus_flow`` in time, posted
by a datalogger thread; the dashboard client's next read follows it by
``QUEUE_GAP_S``, so on the single-threaded server that read waits for
the write. The dashboard then sends one read of each kind in
``READ_CYCLE`` back to back (closed loop). Every group has the same
make-up at any server speed, so the latency quantiles sit on the same
kinds of request in every run. The server is the unmodified
``python -m ciws_server_spark serve`` (or, traced, the same server
behind ``traced_serve.py``); this process is its one client.
"""

from __future__ import annotations

import os
import random
import signal
import threading
import time

import common
import store
import verify
from common import Proc, quantile
from store import iso

DAYS = 4
BASE_END = store.BASE_START + DAYS * store.DAY
WRITE_POINTS = 2_000
# The reads of one group. First the count over the written range that
# checks read-your-writes: it is the read queued behind the group's
# write. Then one of each dashboard statement kind the benchmark's
# design names (hourly and daily aggregates, last() by building, a
# ten-minute raw window, SHOW TAG VALUES, SHOW FIELD KEYS) and the
# building-range export in its three forms (plain, chunked, epoch=ms).
# (kind, variant); no kind is weighted above another.
READ_CYCLE = [("recent", 0), ("hourly", 0), ("daily", 0), ("last", 0), ("raw10m", 0),
              ("show", 0), ("show", 1), ("export", 0), ("export", 1), ("export", 2)]
# how long after the write the group's first read is sent: enough for
# the write's connection to be accepted first
QUEUE_GAP_S = 0.02
WARM_GROUPS = 2
EXPORT_FORMS = [{}, {"chunked": "true", "chunk_size": "1000"}, {"epoch": "ms"}]
DURABLE_Q = ("SELECT count(coldInFlowRate), sum(hotInTemp) FROM campus_flow "
             "GROUP BY buildingID")
SHOW = {
    "SHOW TAG VALUES FROM campus_flow WITH KEY = buildingID":
        [["buildingID", b] for b in store.BUILDINGS],
    "SHOW FIELD KEYS FROM campus_flow":
        [[f, "float"] for f in sorted(store.FIELDS)],
}


class Op:
    __slots__ = ("kind", "q", "params", "body", "building", "t0", "n",
                 "sent", "done", "status", "resp", "error", "parsed")

    def __init__(self, kind, q=None, params=None, body=None, building=None,
                 t0=None, n=0):
        self.kind, self.q, self.params, self.body = kind, q, params or {}, body
        self.building, self.t0, self.n = building, t0, n
        self.sent = self.done = None
        self.status = None
        self.resp = None
        self.error = None
        self.parsed = None

    @property
    def is_write(self) -> bool:
        return self.kind == "write"


def read_op(kind: str, rng: random.Random, variant: int = 0) -> Op:
    """A read of ``kind`` with seeded parameters; ``variant`` picks the
    SHOW statement and the export form."""
    b = rng.choice(store.BUILDINGS)
    if kind == "hourly":
        d0 = store.BASE_START + rng.randrange(DAYS) * store.DAY
        q = ("SELECT mean(coldInFlowRate), min(hotInTemp), count(hotInFlowRate) "
             f"FROM campus_flow WHERE buildingID = '{b}' AND time >= '{iso(d0)}' "
             f"AND time < '{iso(d0 + store.DAY)}' GROUP BY time(1h)")
        return Op(kind, q, building=b, t0=d0, n=store.DAY)
    if kind == "daily":
        s = rng.randrange(DAYS - 1)
        e = rng.randrange(s + 2, DAYS + 1)
        t0, t1 = store.BASE_START + s * store.DAY, store.BASE_START + e * store.DAY
        q = ("SELECT max(coldInFlowRate), sum(hotInFlowRate), count(hotInTemp) "
             f"FROM campus_flow WHERE time >= '{iso(t0)}' AND time < '{iso(t1)}' "
             "GROUP BY time(1d), buildingID")
        return Op(kind, q, t0=t0, n=t1 - t0)
    if kind == "last":
        return Op(kind, "SELECT last(coldInFlowRate) FROM campus_flow GROUP BY buildingID")
    if kind == "raw10m":
        t0 = store.BASE_START + rng.randrange(DAYS * 144) * 600
        q = (f"SELECT * FROM campus_flow WHERE buildingID = '{b}' AND "
             f"time >= '{iso(t0)}' AND time < '{iso(t0 + 600)}'")
        return Op(kind, q, building=b, t0=t0, n=600)
    if kind == "show":
        return Op(kind, sorted(SHOW)[variant])
    if kind == "recent":
        return Op(kind, "SELECT count(coldInFlowRate) FROM campus_flow "
                        f"WHERE time >= '{iso(BASE_END)}' GROUP BY buildingID")
    if kind == "export":
        t0 = store.BASE_START + rng.randrange(DAYS * 24) * 3600
        q = (f"SELECT * FROM campus_flow WHERE buildingID = '{b}' AND "
             f"time >= '{iso(t0)}' AND time < '{iso(t0 + 3600)}'")
        params = EXPORT_FORMS[variant]
        return Op(kind, q, params, building=b, t0=t0, n=3600)
    raise ValueError(kind)


class Server:
    """One wire-server process and the port it serves on."""

    def __init__(self, ctx, traced: bool, tag: str):
        self.port = common.free_port()
        tables = os.path.join(ctx.work, "tables")
        if traced:
            self.spans = os.path.join(ctx.work, f"spans-{tag}.json")
            argv = [common.PYTHON, os.path.join(ctx.bench_dir, "traced_serve.py"),
                    "--tables", tables, "--port", str(self.port), "--spans", self.spans]
            env = common.engine_env(ctx.root, ctx.work, ctx.cores, ctx.heap,
                                    event_log=ctx.event_log)
        else:
            self.spans = None
            argv = [common.PYTHON, "-m", "ciws_server_spark", "serve",
                    "--tables", tables, "--port", str(self.port)]
            env = common.engine_env(ctx.root, ctx.work, ctx.cores, ctx.heap)
        self.proc = Proc(argv, ctx.work, env, os.path.join(ctx.work, f"server-{tag}.log"))
        ctx.procs.append(self.proc)

    def wait_ready(self) -> None:
        line = self.proc.readline(150)
        if "ciws wire API" not in line:
            raise RuntimeError(f"unexpected server banner: {line!r}")

    def run(self, op: Op) -> Op:
        op.sent = time.monotonic()
        try:
            if op.is_write:
                op.resp = common.request(self.port, "POST", "/write",
                                         {"db": "ciws", "precision": "s"}, body=op.body)
            else:
                op.resp = common.request(self.port, "GET", "/query",
                                         {"db": "ciws", "q": op.q, **op.params})
            op.status = op.resp.status
        except OSError as exc:
            op.error = repr(exc)
        op.done = time.monotonic()
        return op

    def rss(self) -> tuple[float, float]:
        return (common.peak_rss_mb(self.proc.pid),
                common.jvm_peak_rss_mb(self.proc.pid))


def group(seed: int, rng: random.Random, cursor: dict) -> list[Op]:
    """One write of a seeded building, then one read of each cycle
    entry with seeded parameters."""
    return ([write_op(seed, rng.choice(store.BUILDINGS), cursor)]
            + [read_op(k, rng, v) for k, v in READ_CYCLE])


def send_group(server: "Server", ops: list[Op]) -> None:
    """Post the write from a datalogger thread, then send the reads one
    after another; each request is timed from when it was sent."""
    write, reads = ops[0], ops[1:]
    poster = threading.Thread(target=server.run, args=(write,), name="datalogger")
    poster.start()
    time.sleep(QUEUE_GAP_S)
    for op in reads:
        server.run(op)
    poster.join(timeout=150)


def drive(server: "Server", seed: int, rng: random.Random, cursor: dict,
          seconds: float) -> list[Op]:
    """Whole groups, the last one started before ``seconds`` ran out.
    Returns the operations sent."""
    end = time.monotonic() + seconds
    ops: list[Op] = []
    while not ops or time.monotonic() < end:
        g = group(seed, rng, cursor)
        send_group(server, g)
        ops += g
    return ops


def write_op(seed: int, b: str, cursor: dict) -> Op:
    """The next 2,000 points of building ``b``, right after its last."""
    t0 = cursor[b]
    cursor[b] = t0 + WRITE_POINTS
    return Op("write", body=store.line_protocol(seed, b, t0, WRITE_POINTS),
              building=b, t0=t0, n=WRITE_POINTS)


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    cursor = {b: BASE_END for b in store.BUILDINGS}
    tables = os.path.join(ctx.work, "tables")
    table_root = os.path.join(tables, store.MEASUREMENT)

    # ---- set-up: server start, store generation, warm-up
    t_setup = time.perf_counter()
    server = Server(ctx, ctx.trace, "main")
    store.write_store(tables, ctx.seed, DAYS)
    base_files = set(common.visible_parquet(table_root))
    server.wait_ready()
    ready_s = time.perf_counter() - t_setup
    # WARM_GROUPS whole groups: the server's JIT is still compiling
    # after the first
    warm = []
    for _ in range(WARM_GROUPS):
        g = group(ctx.seed, rng, cursor)
        send_group(server, g)
        warm += g
    setup_s = time.perf_counter() - t_setup
    files_start = len(common.visible_parquet(table_root))

    # ---- measured window
    wall0 = time.time()
    ops = drive(server, ctx.seed, rng, cursor, ctx.seconds)
    wall1 = time.time()
    py_rss, jvm_rss = server.rss()
    files_end = len(common.visible_parquet(table_root))

    # ---- stop the server hard (traced: let it write its spans first),
    # then restart it: every acknowledged point must still be there
    server.proc.kill(sig=signal.SIGTERM if ctx.trace else signal.SIGKILL)
    again = Server(ctx, False, "restart")
    writes = [o for o in warm + ops if o.is_write]
    failures = verify.write_mix(ctx, warm + ops, writes, tables)
    final = Op("durable", DURABLE_Q)
    try:
        again.wait_ready()
        again.run(final)
    finally:
        again.proc.kill()
    failures += verify.durable(ctx, final, writes, tables, DAYS)

    lat = [o.done - o.sent for o in ops if o.done is not None]
    reads = [o for o in ops if not o.is_write and o.done is not None]
    wops = [o for o in ops if o.is_write and o.done is not None]
    acked = [o for o in wops if o.status == 204]
    span = max(o.done for o in ops if o.done is not None) - min(o.sent for o in ops)
    new_files = [f for f in common.visible_parquet(table_root) if f not in base_files]
    acked_all = sum(o.n for o in writes if o.status == 204)
    written_bytes = sum(os.path.getsize(f) for f in new_files)
    read_time = sum(o.done - o.sent for o in reads)
    rows = sum(verify.row_count(o) for o in reads)
    texts = [o.q for o in reads]
    repeat = sum(1 for i, q in enumerate(texts) if q in texts[:i]) / max(len(texts), 1)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "points_per_s": sum(o.n for o in acked) / span,
        "stored_bytes_per_point": written_bytes / acked_all if acked_all else 0.0,
        "driver_py_peak_rss_mb": py_rss,
    }
    read_lat = [o.done - o.sent for o in reads]
    write_lat = [o.done - o.sent for o in wops]
    detail = {
        "samples": {"groups": len(wops), "requests": len(lat), "reads": len(reads),
                    "writes": len(wops)},
        "window_s": span,
        "query_p50_s": quantile(read_lat, 0.5) if read_lat else None,
        "query_p90_s": quantile(read_lat, 0.9) if read_lat else None,
        "write_p50_s": quantile(write_lat, 0.5) if write_lat else None,
        "write_p90_s": quantile(write_lat, 0.9) if write_lat else None,
        "write_points_per_s": metrics["points_per_s"],
        "result_rows_per_s": rows / read_time if read_time else None,
        "server_ready_s": ready_s,
        "warm_s": [round(o.done - o.sent, 3) for o in warm],
        "latency_s": [[o.kind, round(o.done - o.sent, 3)] for o in ops if o.done is not None],
        "p50_by_kind_s": {k: quantile([o.done - o.sent for o in ops
                                       if o.kind == k and o.done is not None], 0.5)
                          for k in dict.fromkeys(o.kind for o in ops if o.done is not None)},
        "repeat_text_share": repeat,
        "rows_per_response": rows / len(reads) if reads else 0,
        "bytes_per_response": sum(o.resp.nbytes for o in reads if o.resp) / max(len(reads), 1),
        "points_per_write": WRITE_POINTS,
        "files_start": files_start,
        "files_end": files_end,
        "store_bytes": common.tree_bytes(tables),
        "jvm_peak_rss_mb": jvm_rss,
    }
    attempted = len(warm) + len(ops) + 1
    return {"metrics": metrics, "detail": detail, "attempted": attempted,
            "failures": failures,
            "trace_inputs": {"spans": server.spans, "window": [wall0, wall1],
                             "tables": tables,
                             "reads": reads,
                             "files_written": files_end - files_start,
                             "repeat_text_share": repeat}}
