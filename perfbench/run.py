"""Wire-level benchmark of ciws-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads:

    write_mix    groups of one /write batch and ten dashboard/export
                 reads against ``python -m ciws_server_spark serve``
    landing_etl  back-to-back ``run_ingest_pass`` passes in a long-lived
                 loader process over fresh seeded landing CSVs

Prints one detail line (workload properties, host, code identity,
failures), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also prints its own end-to-end figures minus those of the
last untraced run of the same workload in this checkout. Exits 1 when
any output is wrong, 2 when the engine is missing.

Every file the run writes lives under ``.perfbench/`` in the checkout;
the run's scratch directory is removed at the end (and, should a run be
killed, by the next run), the last result of each workload is kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402
import layers  # noqa: E402

#: name -> (unit, better); the end-to-end metrics of every workload
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "latency_p90_s": ("s", "lower"),
    "points_per_s": ("points/s", "higher"),
    "stored_bytes_per_point": ("B", "lower"),
    "driver_py_peak_rss_mb": ("MB", "lower"),
}
WORKLOADS = ("write_mix", "landing_etl")


class Ctx:
    def __init__(self, args):
        self.root = ROOT
        self.bench_dir = BENCH_DIR
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = common.host_cores()
        self.heap = common.host_heap()
        base = os.path.join(ROOT, ".perfbench")
        self.results = os.path.join(base, "results")
        self.work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        self.event_log = os.path.join(self.work, "eventlog") if self.trace else None
        self.procs: list[common.Proc] = []


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "ciws_server_spark", "__main__.py")):
        print(f"no ciws_server_spark package under {ROOT}", file=sys.stderr)
        return 2

    ctx = Ctx(args)
    remove_stale_runs(os.path.dirname(ctx.work))
    cpu0 = common.cpu_times()
    os.makedirs(ctx.work)
    os.makedirs(ctx.results, exist_ok=True)
    try:
        if args.workload == "write_mix":
            import write_mix as workload
        else:
            import landing_etl as workload
        res = workload.run(ctx)
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": ctx.trace, "cores": ctx.cores, "heap": ctx.heap,
            **common.code_identity(ROOT),
            "failed_ops_ratio": len(res["failures"]) / res["attempted"],
            "host_steal_share": common.steal_share(cpu0, common.cpu_times()),
            "failures": res["failures"][:20],
            **res["detail"],
        }
        if ctx.trace:
            inputs = {**res["trace_inputs"], "event_log": ctx.event_log}
            metrics, extra = layers.analyze(args.workload, inputs, detail, ROOT)
            detail.update(extra)
            detail["trace_overhead"] = overhead(ctx, args.workload, res["metrics"])
            units = layers.PER_LAYER
        else:
            metrics = res["metrics"]
            units = END_TO_END
        with open(os.path.join(ctx.results, f"{args.workload}-trace{args.trace}.json"), "w") as fh:
            json.dump({"seed": args.seed, "metrics": res["metrics"]}, fh)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        for proc in ctx.procs:
            proc.kill()
        shutil.rmtree(ctx.work, ignore_errors=True)

    print(json.dumps({"detail": detail}, default=str))
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, (u, _) in units.items()},
    }))
    return 0 if failed == 0 else 1


def remove_stale_runs(base: str) -> None:
    """Remove the scratch directories of runs whose process is gone."""
    for path in glob.glob(os.path.join(base, "run-*")):
        try:
            os.kill(int(path.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def overhead(ctx, workload: str, traced: dict) -> dict:
    """Traced end-to-end figures minus the last untraced run's."""
    path = os.path.join(ctx.results, f"{workload}-trace0.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload recorded in this checkout"}
    with open(path) as fh:
        base = json.load(fh)
    return {"untraced_seed": base["seed"],
            **{k: traced[k] - base["metrics"][k] for k in END_TO_END}}


if __name__ == "__main__":
    sys.exit(main())
