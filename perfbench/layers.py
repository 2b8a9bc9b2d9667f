"""Per-layer metrics of a traced run, computed from its spans.

Every run emits every name below. A layer the workload does not exercise
reports 0: that is what it measured. Times are medians per call unless the
description says otherwise; see README.md for the table.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import layer_of, self_times

LAYERS = ["bench", "protocol", "scan", "spark", "writer", "dml", "maintenance", "cdf", "sink", "catalog"]
PHASES = {"parse": "parsing", "analysis": "analysis", "optimization": "optimization", "planning": "planning"}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _job_shape(spark, job_ids: range) -> tuple[int, int]:
    """(stages, tasks) of the given jobs, from Spark's status tracker."""
    st = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return stages, tasks


def _replayed(s: dict) -> int:
    """Commits a snapshot load or update read from JSON after its checkpoint."""
    a = s["attrs"]
    if s["name"] == "protocol.update":
        return a["replayed"]
    cp = a["log"].find_latest_checkpoint_for_version(a["version"])
    return a["version"] - (cp.version if cp is not None else -1)


def _dml_rewrite(s: dict) -> tuple[int, int, int]:
    """(files rewritten, rows copied, rows changed) of one DML call: files
    whose rows were written again, the unchanged rows that rode along, and
    the rows the call inserted, updated or deleted."""
    a = s["attrs"]
    res = a["result"] or {}
    changed = sum(
        int(res.get(k, 0) or 0)
        for k in ("numTargetRowsUpdated", "numTargetRowsDeleted", "numDeletedRows", "numUpdatedRows")
    )
    if "version" not in res or res.get("numRemovedFiles", 0) in (0, "0"):
        return 0, 0, changed
    actions = a["log"].read_commit(res["version"])
    removed = {x.path for x in actions if type(x).__name__ == "RemoveAction"}
    readded = {x.path for x in actions if type(x).__name__ == "AddAction"}
    rewritten = removed - readded
    rows_in = sum(a["before"].get(p) or 0 for p in rewritten)
    return len(rewritten), max(rows_in - changed, 0), changed + int(res.get("numTargetRowsInserted", 0) or 0)


def per_layer(run) -> tuple[dict, dict]:
    # only spans inside the timed ops: set-up and the final checks are apart
    spans = [s for s in run.tracer.spans if s["op"] is not None]
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
    ops = {r["id"]: r for r in run.records}
    m: dict[str, tuple[float, str]] = {}

    loads, updates = by["protocol.load"], by["protocol.update"]
    m["protocol.load_s"] = (_med(map(_dur, loads)), "s")
    m["protocol.update_s"] = (_med(map(_dur, updates)), "s")
    m["protocol.commits_replayed"] = (_med(_replayed(s) for s in loads + updates), "count")
    m["protocol.active_files"] = (_med(s["attrs"]["active_files"] for s in loads + updates), "count")

    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    to_dfs = by["scan.to_df"]
    selected = [sum(c["attrs"]["files"] for c in children[s["id"]] if c["name"] == "scan.df_for_adds") for s in to_dfs]
    active = sum(s["attrs"]["active_files"] for s in to_dfs)
    m["scan.to_df_s"] = (_med(map(_dur, to_dfs)), "s")
    m["scan.files_selected"] = (_med(selected), "count")
    m["scan.files_selected_frac"] = (sum(selected) / active if active else 0.0, "ratio")

    execs = by["spark.exec"]
    for key, phase in PHASES.items():
        m[f"spark.catalyst.{key}_s"] = (_med(s["attrs"].get("phases", {}).get(phase, 0.0) for s in execs), "s")
    m["spark.exec_s"] = (_med(map(_dur, execs)), "s")
    op_spans = [s for s in spans if s["name"].startswith("op.")]
    shapes = [(s["job1"] - s["job0"], *_job_shape(run.spark, range(s["job0"], s["job1"]))) for s in op_spans]
    m["spark.jobs"] = (_med(j for j, _, _ in shapes), "count")
    m["spark.stages"] = (_med(st for _, st, _ in shapes), "count")
    m["spark.tasks"] = (_med(t for _, _, t in shapes), "count")

    writes = by["writer.write"]
    commits = run.layer_extra.get("append_commits", [])
    m["writer.append_s"] = (_med(map(_dur, writes)), "s")
    m["writer.files_added"] = (_med(f for f, _ in commits), "count")
    m["writer.bytes_added"] = (_med(b for _, b in commits), "B")

    merges, deletes = by["dml.merge"], by["dml.delete"]
    m["dml.merge_s"] = (_med(map(_dur, merges)), "s")
    m["dml.delete_s"] = (_med(map(_dur, deletes)), "s")
    for kind, group in (("merge", merges), ("delete", deletes)):
        for tag, dv in (("dv", True), ("cow", False)):
            m[f"dml.{kind}_{tag}_s"] = (_med(_dur(s) for s in group if s["attrs"]["dv"] == dv), "s")
    m["dml.merge_jobs"] = (_med(s["job1"] - s["job0"] for s in merges), "count")
    rewrites = [_dml_rewrite(s) for s in merges + deletes]
    m["dml.files_rewritten"] = (_med(f for f, _, _ in rewrites), "count")
    changed = sum(c for _, _, c in rewrites)
    m["dml.rows_copied_per_row_changed"] = (sum(r for _, r, _ in rewrites) / changed if changed else 0.0, "ratio")

    cps = [s for s in by["maintenance.checkpoint"] if s["attrs"]["written"]]
    m["maintenance.checkpoint_commit_s"] = (_med(ops[s["op"]]["s"] for s in cps if s["op"] in ops), "s")
    m["maintenance.checkpoint_s"] = (_med(map(_dur, cps)), "s")
    m["maintenance.checkpoints_written"] = (len(cps), "count")
    opts = by["maintenance.optimize"]
    m["maintenance.optimize_s"] = (_med(map(_dur, opts)), "s")
    m["maintenance.bytes_rewritten"] = (_med(int(s["attrs"]["result"].get("numBytesAdded", 0)) for s in opts), "B")

    m["cdf.load_cdf_s"] = (_med(map(_dur, by["cdf.load_cdf"])), "s")
    m["cdf.rows"] = (_med(run.layer_extra.get("cdf_rows", [])), "count")
    m["sink.batch_s"] = (_med(map(_dur, by["sink.batch"])), "s")
    m["sink.skipped_epochs"] = (run.layer_extra.get("skipped_epochs", 0), "count")

    # catalog: sums of per-query medians, the way query_total_s adds up
    per_query = defaultdict(lambda: defaultdict(list))
    for s in by["catalog.query_build"]:
        per_query[s["attrs"]["query"]]["build"].append(_dur(s))
    for s in (e for e in execs if "query" in e["attrs"]):
        per_query[s["attrs"]["query"]]["exec"].append(_dur(s))
        per_query[s["attrs"]["query"]]["jobs"].append(s["job1"] - s["job0"])
    for key in ("build", "exec"):
        m[f"catalog.query_{key}_s"] = (sum(_med(q[key]) for q in per_query.values()), "s")
    m["catalog.query_jobs"] = (sum(_med(q["jobs"]) for q in per_query.values()), "count")

    # self time per layer, per op; and how much of each op the layers explain
    own = self_times(spans)
    per_layer_self = defaultdict(float)
    for s in spans:
        per_layer_self[layer_of(s["name"])] += own[s["id"]]
    n_ops = max(len(op_spans), 1)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (per_layer_self[layer] / n_ops, "s")
    # share of each op's timed latency (the record, which leaves out the op
    # span's own bookkeeping) that the layer spans under it explain
    coverage = {
        s["op"]: sum(_dur(c) for c in children[s["id"]]) / ops[s["op"]]["s"]
        for s in op_spans
        if ops[s["op"]]["s"] > 0
    }
    m["trace.coverage_min"] = (min(coverage.values()) if coverage else 0.0, "ratio")
    m["trace.spans"] = (len(spans), "count")

    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    detail = {
        "self_s_total": dict(per_layer_self),
        "op_coverage": coverage,
    }
    return metrics, detail


def dump_spans(spans: list[dict]) -> list[dict]:
    """JSON-safe copy of the spans (drops object references)."""
    keep = ("id", "name", "parent", "op", "start", "end", "job0", "job1")
    out = []
    for s in spans:
        rec = {k: s[k] for k in keep if k in s}
        rec["attrs"] = {k: v for k, v in s["attrs"].items() if isinstance(v, (int, float, str, bool, dict)) and k not in ("before", "result")}
        out.append(rec)
    return out
