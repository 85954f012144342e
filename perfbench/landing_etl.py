"""landing_etl: successive cron-equivalent ingest passes.

A long-lived loader process (``etl_worker.py``) runs
``streaming.ingest.run_ingest_pass`` once per pass. Before each pass a
fresh seeded batch of residential datalogger CSVs (FIXTURES F1, with
QC-flagged and malformed files) lands in its landing directory. Passes
run back to back for the measured window. A pass's latency runs from
the moment its last file landed to the end of the pass that archived
or quarantined them, so the generator's own work is outside it.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import time

import common
import store
import verify
from common import Proc, quantile

FILES_PER_PASS = 48
ROWS_PER_FILE = 2_000
# warm-up passes before the measured window: a small cold one, then
# three full-size ones (pass time still falls by about a quarter over
# the first full passes after a cold start)
WARM_FILES = (8, FILES_PER_PASS, FILES_PER_PASS, FILES_PER_PASS)


class Loader:
    def __init__(self, ctx, dirs: dict, tables: str):
        argv = [common.PYTHON, os.path.join(ctx.bench_dir, "etl_worker.py"),
                "--tables", tables, "--landing", dirs["landing"],
                "--checkpoint", dirs["checkpoint"], "--archive", dirs["archived"],
                "--quarantine", dirs["quarantined"]]
        self.spans = self.progress = None
        if ctx.trace:
            self.spans = os.path.join(ctx.work, "spans-etl.json")
            self.progress = os.path.join(ctx.work, "progress.jsonl")
            argv += ["--spans", self.spans, "--progress", self.progress]
        env = common.engine_env(ctx.root, ctx.work, ctx.cores, ctx.heap,
                                event_log=ctx.event_log if ctx.trace else None)
        self.proc = Proc(argv, ctx.work, env, os.path.join(ctx.work, "etl.log"),
                         stdin=subprocess.PIPE)
        ctx.procs.append(self.proc)

    def call(self, cmd: str, timeout: float = 150) -> dict:
        self.proc.p.stdin.write(cmd.encode() + b"\n")
        self.proc.p.stdin.flush()
        out = json.loads(self.proc.readline(timeout))
        if "error" in out:
            raise RuntimeError(out["error"])
        return out

    def ready(self) -> None:
        json.loads(self.proc.readline(150))

    def quit(self) -> None:
        self.proc.p.stdin.write(b"quit\n")
        self.proc.p.stdin.close()
        self.proc.wait_group(60)


def last_batch(checkpoint: str) -> int:
    """Id of the newest micro-batch the ingest query committed, -1 if none."""
    commits = os.path.join(checkpoint, "residential", "commits")
    ids = [int(f) for f in os.listdir(commits) if f.isdigit()] if os.path.isdir(commits) else []
    return max(ids, default=-1)


def land(rng, landing: str, n: int, want: dict, files: int = FILES_PER_PASS) -> dict:
    """Land one pass's files; returns what the loader must do with them."""
    got = store.write_landing(landing, rng, f"p{n:03d}", files, ROWS_PER_FILE)
    for k, v in got.items():
        want[k] += v
    return got


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    tables = os.path.join(ctx.work, "tables")
    dirs = {k: os.path.join(ctx.work, k)
            for k in ("landing", "checkpoint", "archived", "quarantined")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    want = {"archived": 0, "quarantined": 0, "raw_data": 0, "qc_data": 0}

    # ---- set-up: loader start, first landing, warm-up passes
    t_setup = time.perf_counter()
    loader = Loader(ctx, dirs, tables)
    passes = []
    try:
        land(rng, dirs["landing"], 0, want, WARM_FILES[0])
        loader.ready()
        warm = [loader.call("pass")["pass_s"]]
        for n, files in enumerate(WARM_FILES[1:], 1):
            land(rng, dirs["landing"], n, want, files)
            warm.append(loader.call("pass")["pass_s"])
        setup_s = time.perf_counter() - t_setup
        first = last_batch(dirs["checkpoint"]) + 1

        # ---- measured window: passes back to back
        wall0 = time.time()
        end = time.monotonic() + ctx.seconds
        n = len(WARM_FILES) - 1
        while time.monotonic() < end:
            n += 1
            got = land(rng, dirs["landing"], n, want)
            landed = time.monotonic()
            loader.call("pass")
            done = time.monotonic()
            passes.append({"pass_s": done - landed, "points": got["raw_data"] + got["qc_data"],
                           "archived": got["archived"], "quarantined": got["quarantined"]})
        wall1 = time.time()
        rss = loader.call("rss")
    finally:
        loader.quit()

    batches = [first, last_batch(dirs["checkpoint"])]
    failures = verify.landing_etl(tables, dirs, want)
    lat = [p["pass_s"] for p in passes]
    busy = sum(p["pass_s"] for p in passes)
    loaded = sum(p["points"] for p in passes)
    stored = sum(common.tree_bytes(os.path.realpath(os.path.join(tables, t)))
                 for t in ("raw_data", "qc_data") if os.path.exists(os.path.join(tables, t)))
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "points_per_s": loaded / busy,
        "stored_bytes_per_point": stored / (want["raw_data"] + want["qc_data"]),
        "driver_py_peak_rss_mb": rss["py_peak_rss_mb"],
    }
    detail = {
        "samples": {"passes": len(passes), "files": len(passes) * FILES_PER_PASS},
        "etl_points_per_s": metrics["points_per_s"],
        "pass_s": [round(p["pass_s"], 3) for p in passes],
        "warm_pass_s": [round(t, 3) for t in warm],
        "files_per_pass": FILES_PER_PASS,
        "rows_per_file": ROWS_PER_FILE,
        "generated": want,
        "store_bytes": common.tree_bytes(tables),
        "jvm_peak_rss_mb": rss["jvm_peak_rss_mb"],
    }
    attempted = len(passes) + len(WARM_FILES) + 5  # passes, warm-up passes, five checks
    return {"metrics": metrics, "detail": detail, "attempted": attempted,
            "failures": failures,
            "trace_inputs": {"spans": loader.spans, "window": [wall0, wall1],
                             "passes": passes, "progress": loader.progress,
                             "batches": batches}}
