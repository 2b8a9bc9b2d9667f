"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py --base .perfbench_out/base/*.json --change .perfbench_out/change/*.json

Each file is a ``result-*.json`` report written by ``run.py``. Runs are
paired by (workload, seed); a pair whose stamps differ in anything but the
trace flag is refused, as is a set that mixes stamps other than the seed
and the input shapes the seed makes.
For every end-to-end metric declared in BENCHMARK.json the table shows each
side's median and quartile spread, the change relative to the base median,
and a verdict against the metric's bound:

- ``unresolved``: the base's own spread is wider than the bound and the two
  sets overlap (not every change run beats, or loses to, every base run):
  the runs are too noisy to tell;
- ``worse``: otherwise, the change's median is worse than the base's by more
  than the bound;
- ``ok``: otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> dict[tuple[str, int], dict]:
    out = {}
    for p in paths:
        with open(p) as f:
            res = json.load(f)
        st = res["stamps"]
        out[(st["workload"], st["seed"])] = res
    return out


def stamp_key(stamps: dict, drop=("seed", "trace", "shapes")) -> str:
    return json.dumps({k: v for k, v in stamps.items() if k not in drop}, sort_keys=True)


def check_stamps(base: dict, change: dict) -> list[str]:
    """Reasons to refuse the comparison; empty when the stamps agree."""
    problems = []
    for side, runs in (("base", base), ("change", change)):
        per_workload = {}
        for (w, _), res in runs.items():
            per_workload.setdefault(w, set()).add(stamp_key(res["stamps"]))
        problems += [f"{side} mixes stamps within {w}" for w, keys in per_workload.items() if len(keys) > 1]
    for key in sorted(set(base) & set(change)):
        if stamp_key(base[key]["stamps"], drop=("trace",)) != stamp_key(change[key]["stamps"], drop=("trace",)):
            problems.append(f"stamps differ for {key}")
    if not set(base) & set(change):
        problems.append("no (workload, seed) pair appears on both sides")
    return problems


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, change = load(args.base), load(args.change)
    problems = check_stamps(base, change)
    if problems:
        print("refusing to compare:\n  " + "\n  ".join(problems), file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    worse = False
    for w in sorted({k[0] for k in base} & {k[0] for k in change}):
        seeds = sorted(s for (wl, s) in base if wl == w and (wl, s) in change)
        print(f"{w}  ({len(seeds)} seeds)")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            b = [base[(w, s)]["end_to_end"][name]["value"] for s in seeds]
            c = [change[(w, s)]["end_to_end"][name]["value"] for s in seeds]
            mb, mc = statistics.median(b), statistics.median(c)
            rel = (mc - mb) / mb if mb else 0.0
            loss = rel if lower else -rel
            always_better = all((x < y) if lower else (x > y) for x in c for y in b)
            always_worse = all((x > y) if lower else (x < y) for x in c for y in b)
            if spread(b) > bound and not (always_better or always_worse):
                verdict = "unresolved"
            elif loss > bound:
                verdict = "worse"
                worse = True
            else:
                verdict = "ok"
            print(
                f"  {name:14s} base {mb:10.4f} (spread {spread(b):.3f})  change {mc:10.4f} "
                f"(spread {spread(c):.3f})  {rel:+.3f}  bound {bound}  {verdict}"
            )
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
