"""Fast self-test of the benchmark at the tiny scale.

    python3 perfbench/selftest.py [--workload NAME ...]

For each workload: an untraced and a traced run must exit 0, print the
summary line with every metric BENCHMARK.json declares, report every named
metric with its unit, fail no op, explain at least 90% of each op's wall
time by layer spans, and report the tracing overhead. One run with an
injected wrong result must count it as failed. A copy of the benchmark
without the engine beside it must exit non-zero without a result.
Takes a few minutes; prints one line per check and exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["snapshot_scan", "upsert_ingest", "pipeline_queries"]
# end-to-end metrics every workload reports, declared in BENCHMARK.json or not
COMMON_METRICS = ["setup_s", "cycle_s", "cycle_cpu_s", "ops_per_s", "op_p50_s", "op_p90_s", "peak_rss_mb", "driver_rss_mb", "ops_failed_frac"]
# end-to-end metrics of one workload each
OWN_METRICS = {
    "snapshot_scan": ["scan_p50_s", "timetravel_p50_s"],
    "upsert_ingest": ["append_p50_s", "upsert_p50_s", "delete_p50_s", "tail_read_p50_s", "write_amp"],
    "pipeline_queries": ["query_total_s"],
}
SUMMARY_KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--scale", "tiny", "--seconds", "2", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


class Checks:
    def __init__(self):
        self.failed = 0

    def __call__(self, ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        self.failed += not ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", nargs="*", default=WORKLOADS, choices=WORKLOADS)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    check = Checks()

    for w in args.workload:
        for trace in (0, 1):
            section = "per_layer" if trace else "end_to_end"
            rc, lines = bench(["--workload", w, "--seed", "3", "--trace", str(trace)])
            check(rc == 0 and len(lines) >= 2, f"{w} trace={trace} exits 0 with a report and a summary")
            if rc != 0 or len(lines) < 2:
                continue
            summary, report = json.loads(lines[-1]), json.loads(lines[-2])
            names = [m["name"] for m in declared[section]]
            check(set(summary) == SUMMARY_KEYS, f"{w} trace={trace} summary has exactly {sorted(SUMMARY_KEYS)}")
            check(list(summary["metrics"]) == names, f"{w} trace={trace} summary carries every declared metric")
            check(
                all(isinstance(v["value"], float) and v["unit"] for v in summary["metrics"].values()),
                f"{w} trace={trace} every metric has a value and a unit",
            )
            own = COMMON_METRICS + OWN_METRICS[w]
            check(all(n in report["end_to_end"] for n in own), f"{w} reports {own}")
            check(summary["failed"] == 0 and summary["correct"], f"{w} trace={trace} fails no op")
            if trace:
                cov = report["per_layer"]["trace.coverage_min"]["value"]
                check(cov >= 0.9, f"{w} layer spans cover >= 90% of every op (min {cov:.3f})")
                check(report.get("trace_overhead") is not None, f"{w} reports the tracing overhead")

    rc, lines = bench(["--workload", args.workload[0], "--seed", "3", "--trace", "0", "--inject-wrong"])
    report = json.loads(lines[-2]) if rc == 0 and len(lines) >= 2 else None
    check(
        report is not None and report["failed"] >= 1 and report["end_to_end"]["ops_failed_frac"]["value"] > 0,
        "an injected wrong result raises ops_failed_frac",
    )

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch, prefix="selftest-") as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, lines = bench(["--workload", args.workload[0], "--seed", "3", "--trace", "0"], cwd=bare)
        check(rc != 0 and not lines, "without the engine the benchmark exits non-zero and prints no result")

    print(f"{check.failed} check(s) failed")
    return 1 if check.failed else 0


if __name__ == "__main__":
    sys.exit(main())
