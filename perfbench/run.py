"""Benchmark entry point.

    python3 perfbench/run.py --workload snapshot_scan --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repository. Prints the full report
(every metric with its unit, the stamps, the checks) as one JSON line, then
the summary line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The report
and, when traced, the spans are also written under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# A seed kept out of tuning, for confirming a claim made on other seeds.
HELD_OUT_SEED = 9173


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["snapshot_scan", "upsert_ingest", "pipeline_queries"])
    ap.add_argument("--seed", default="1", help="an integer, or 'heldout' for the held-out seed")
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["default", "tiny"], default="default")
    ap.add_argument("--inject-wrong", action="store_true", help="corrupt the first checked result (self-test)")
    args = ap.parse_args(argv)
    args.seed = HELD_OUT_SEED if args.seed == "heldout" else int(args.seed)
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "delta_rs_spark", "__init__.py")):
        print(f"perfbench: no delta_rs_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    with open(BENCHMARK_JSON) as f:
        declared = json.load(f)
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    import harness
    import layers
    from pipeline_queries import PipelineQueries
    from snapshot_scan import SnapshotScan
    from upsert_ingest import UpsertIngest

    workload = {w.name: w for w in (SnapshotScan, UpsertIngest, PipelineQueries)}[args.workload]()
    run = harness.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
                      args.inject_wrong, T_PROC)
    os.makedirs(run.work_dir, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(run.work_dir, "spark-local")
    try:
        report = harness.execute(run, workload)
        spans = layers.dump_spans(run.tracer.spans)
    finally:
        run.stop()
        shutil.rmtree(run.work_dir, ignore_errors=True)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(ROOT, harness.OUT_DIR)
    harness.write_json(os.path.join(out_dir, f"result-{tag}.json"), report)
    if args.trace:
        harness.write_json(os.path.join(out_dir, f"spans-{tag}.json"), spans)
    section = "per_layer" if args.trace else "end_to_end"
    names = [m["name"] for m in declared[section]]
    missing = [n for n in names if n not in report[section]]
    if missing:
        print(f"perfbench: declared metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps(report, default=str))
    summary = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": report[section][n]["value"], "unit": report[section][n]["unit"]} for n in names},
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
