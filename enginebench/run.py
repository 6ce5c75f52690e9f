"""Benchmark entry point.

  python3 enginebench/run.py --workload ingest_refresh --seed 1 --seconds 10 --trace 0

Runs one workload in one Spark session at ``local[nproc]`` with one
closed-loop client, checks every output, and prints one JSON line
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A human-readable summary and the
traced run's span table go to ``.enginebench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import signal
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


WORKLOADS = {
    "ingest_refresh": "IngestRefresh",
    "tier_queries": "TierQueries",
    "sfa_search": "SfaSearch",
}


def workload_class(name: str):
    import importlib

    return getattr(importlib.import_module(f"enginebench.{name}"), WORKLOADS[name])


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full", help="tiny: the self-test's inputs")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    try:
        import sfa_spark  # noqa: F401  (the program under test must be in the checkout)
    except ImportError as e:
        print(f"enginebench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from enginebench import harness

    cores = len(os.sched_getaffinity(0))
    run = harness.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        root=ROOT,
        work=os.path.join(ROOT, ".enginebench_work", f"{args.workload}-{os.getpid()}"),
        cores=cores,
        scale=args.scale,
    )
    harness.prepare_env(ROOT, run.work, cores)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = workload_class(args.workload)()
    result = None
    status = 1
    try:
        # inputs and reference results are made while the session starts
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(workload.prepare, run)
            harness.start_session(run)
            prepared.result()
        if run.trace:
            from enginebench.trace import Tracer

            run.tracer = Tracer(run.spark)
        if hasattr(workload, "setup"):
            workload.setup(run)
        setup_s = harness.process_age_s()
        if run.tracer:
            run.tracer.start_measuring()
        ticks = harness.cpu_ticks()
        harness.timed_rounds(run, workload)
        run.extra["steal_share"] = harness.steal_share(ticks, harness.cpu_ticks())
        if run.tracer:
            harness.stop_session(run)
            metrics = run.tracer.layer_metrics(os.path.join(run.work, "eventlog"), len(run.rounds))
            if hasattr(workload, "check_trace"):
                workload.check_trace(run)
        else:
            metrics = harness.end_to_end(run, setup_s)
        result = {"correct": True, "attempted": run.attempted, "failed": 0, "metrics": metrics}
        report(run, setup_s, result)
        status = 0
    except harness.CheckFailed as e:
        print(f"enginebench: check failed: {e}", file=sys.stderr)
        result = {"correct": False, "attempted": max(run.attempted, 1), "failed": 0, "metrics": {}}
    except Exception:
        traceback.print_exc()
    finally:
        harness.stop_session(run)
        harness.remove_work(run)
    if result is not None:
        print(json.dumps(result))
    return status


def report(run, setup_s: float, result: dict) -> None:
    """Per-operation medians and run facts, beside the JSON line."""
    from enginebench import harness

    out_dir = os.path.join(run.root, ".enginebench_out")
    os.makedirs(out_dir, exist_ok=True)
    summary = {
        "workload": run.workload,
        "seed": run.seed,
        "trace": run.trace,
        "nproc": run.cores,
        "driver_mem": harness.DRIVER_MEM,
        "rounds": len(run.rounds),
        "setup_s": setup_s,
        "run_s": harness.process_age_s(),
        "op_median_s": harness.op_summary(run),
        **run.extra,
    }
    if run.tracer:
        summary["spans"] = run.tracer.span_table()
    name = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({**summary, "result": result}, f, indent=1)
    brief = {k: v for k, v in summary.items() if k != "spans"}
    print(json.dumps(brief), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
