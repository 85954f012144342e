"""A long-lived cron loader: one ``run_ingest_pass`` per ``pass`` command.

Reads commands on stdin and answers each with one JSON line on stdout:

    pass   run one ingest pass over the landing dir -> {"pass_s": ...}
    rss    -> {"py_peak_rss_mb": ..., "jvm_peak_rss_mb": ...}
    quit   stop the Spark session (writing spans first when traced)

With ``--spans FILE`` the loader's layers are wrapped in spans, and the
engine's ``streaming.monitor.ProgressLog`` listener appends the
progress of every micro-batch to ``--progress FILE``.

    python perfbench/etl_worker.py --tables T --landing L --checkpoint C \\
        --archive A --quarantine Q [--spans FILE --progress FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import jvm_peak_rss_mb, peak_rss_mb  # noqa: E402
from spans import Tracer  # noqa: E402


def install(tracer: Tracer, spark, progress: str) -> None:
    from ciws_server_spark.sources import residential, sinks
    from ciws_server_spark.streaming import monitor

    tracer.wrap(residential, "parse_lines", "residential.parse")
    tracer.wrap(sinks, "route_residential", "sinks.route")
    tracer.wrap(sinks, "apply_pending_moves", "sinks.moves")
    spark.streams.addListener(monitor.ProgressLog(progress))


def main() -> int:
    p = argparse.ArgumentParser()
    for a in ("tables", "landing", "checkpoint", "archive", "quarantine"):
        p.add_argument(f"--{a}", required=True)
    p.add_argument("--spans")
    p.add_argument("--progress")
    args = p.parse_args()

    from ciws_server_spark.session import get_spark
    from ciws_server_spark.streaming import ingest

    spark = get_spark("ciws-ingest-pass")
    tracer = Tracer() if args.spans else None
    if tracer is not None:
        install(tracer, spark, args.progress)
    n = 0
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "pass":
            n += 1
            t = time.perf_counter()
            if tracer is not None:
                with tracer.span("ingest.pass", root=True, n=n):
                    ingest.run_ingest_pass(
                        spark, args.landing, args.tables, args.checkpoint,
                        archive_dir=args.archive, quarantine_dir=args.quarantine)
            else:
                ingest.run_ingest_pass(
                    spark, args.landing, args.tables, args.checkpoint,
                    archive_dir=args.archive, quarantine_dir=args.quarantine)
            out = {"pass_s": time.perf_counter() - t}
        elif cmd == "rss":
            out = {"py_peak_rss_mb": peak_rss_mb(os.getpid()),
                   "jvm_peak_rss_mb": jvm_peak_rss_mb(os.getpid())}
        elif cmd == "quit":
            break
        else:
            out = {"error": f"unknown command {cmd!r}"}
        print(json.dumps(out), flush=True)
    if tracer is not None:
        tracer.dump(args.spans)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
