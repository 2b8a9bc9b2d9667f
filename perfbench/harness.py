"""One benchmark run: Spark session, closed loop, checks, metrics, stamps."""

from __future__ import annotations

import json
import os
import platform
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np

import layers
from spans import Tracer

# Results and traces land here, inside the checkout; runs read earlier
# untraced results from here to report the tracing overhead.
OUT_DIR = ".perfbench_out"


@dataclass
class Op:
    type: str
    fn: Callable[[], Any]  # the timed call into the engine
    check: Optional[Callable[[Any], bool]] = None  # untimed output check
    label: str = ""  # names the op within its type: the query, the target


def quantile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default); 0 when
    there is no sample, which only a run whose every op failed produces."""
    return float(np.quantile(np.asarray(values, dtype=float), q)) if values else 0.0


def tail_level(n: int) -> float:
    """The highest percentile, up to p90, with at least ten samples beyond it."""
    return min(0.9, max(0.5, 1.0 - 10.0 / n)) if n else 0.5


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, of process ``root`` and every process
    below it: the driver, the JVM it launched and Spark's Python workers,
    including children that have exited and been reaped."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool,
                 scale: str, inject_wrong: bool, t_proc: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.inject_wrong = inject_wrong
        self.t_proc = t_proc
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(trace)
        self.work_dir = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.verify: list[tuple[str, bool]] = []
        self.shapes: dict[str, Any] = {}
        self.extra_e2e: dict[str, tuple[float, str]] = {}
        self.layer_extra: dict[str, Any] = {}
        self._injected = False
        self.measuring = False
        self.spark = None

    # -- session ------------------------------------------------------------

    def start_spark(self):
        from delta_rs_spark import get_spark

        spark_tmp = os.path.join(self.work_dir, "spark-local")
        os.makedirs(spark_tmp, exist_ok=True)
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            {
                "spark.local.dir": spark_tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spark_tmp} -Dderby.system.home={spark_tmp}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.tracer.bind(self.spark)
            self.tracer.instrument()
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        self.tracer.restore()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- checks ---------------------------------------------------------------

    def expect(self, got, want) -> bool:
        """Compare an output with the model's value. With ``inject_wrong`` the
        first comparison of the run is made against a corrupted value, which
        the self-test uses to prove that a wrong result counts as failed."""
        if self.inject_wrong and self.measuring and not self._injected:
            self._injected = True
            want = ("corrupted", want)
        return got == want

    def check_final(self, name: str, ok: bool) -> None:
        self.verify.append((name, bool(ok)))

    # -- the closed loop ----------------------------------------------------

    def run_op(self, op: Op) -> None:
        op_id = len(self.records)
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"op{op_id}", op.type)
        err = None
        with self.tracer.span("op." + op.type, op=op_id):
            t0 = time.perf_counter()
            try:
                out = op.fn()
            except Exception:
                out, err = None, traceback.format_exc()
            dt = time.perf_counter() - t0
        ok = err is None
        if ok and op.check is not None:
            try:
                ok = bool(op.check(out))
            except Exception:
                ok, err = False, traceback.format_exc()
            if not ok and err is None:
                err = f"{op.type}: output differs from the model"
        if err is not None:
            self.errors.append(err)
            print(f"[perfbench] op {op_id} {op.type} failed:\n{err}", file=sys.stderr)
        self.records.append({"id": op_id, "type": op.type, "label": op.label, "s": dt, "ok": ok})

    def warm(self, blocks, n_blocks: int) -> None:
        """Untimed blocks; their outcomes still count as failures if wrong."""
        for _ in range(n_blocks):
            for op in next(blocks):
                self.run_op(op)
        self.warm_failed = sum(not r["ok"] for r in self.records)
        self.warm_records = list(self.records)
        self.records.clear()
        self.tracer.clear()

    def measure(self, blocks, min_blocks: int) -> None:
        """Closed loop with one client: whole blocks, at least ``min_blocks``,
        until ``seconds`` have passed, so every window holds the same mix of
        op types."""
        self.measuring = True
        steal0, total0 = _cpu_jiffies()
        cpu0 = _tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        self.window_blocks = 0
        for block in blocks:
            for op in block:
                self.run_op(op)
            self.window_blocks += 1
            if self.window_blocks >= min_blocks and time.perf_counter() - t0 >= self.seconds:
                break
        self.window_s = time.perf_counter() - t0
        self.window_cpu_s = _tree_cpu_s(os.getpid()) - cpu0
        steal1, total1 = _cpu_jiffies()
        # CPU time the hypervisor took from this machine during the window:
        # attributes a slow run to the box rather than to the engine
        self.steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
        self.measuring = False

    # -- results ------------------------------------------------------------

    def stamps(self) -> dict[str, Any]:
        sc = self.spark.sparkContext
        return {
            "workload": self.workload,
            "seed": self.seed,
            "scale": self.scale,
            "seconds": self.seconds,
            "trace": int(self.tracer.enabled),
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_mem": sc.getConf().get("spark.driver.memory"),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "shapes": self.shapes,
        }

    def memory_mb(self) -> dict[str, float]:
        """Peak memory by part: the driver's and the JVM's resident high-water
        marks, and the JVM's peak used heap and non-heap (summed over pools)."""
        jvm = self.spark.sparkContext._jvm
        jvm_pid = int(jvm.ProcessHandle.current().pid())
        heap = nonheap = 0.0
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            used = pool.getPeakUsage().getUsed() / (1024.0 * 1024.0)
            if str(pool.getType().toString()) == "Heap memory":
                heap += used
            else:
                nonheap += used
        return {
            "driver_rss": _vm_hwm_mb(os.getpid()),
            "jvm_rss": _vm_hwm_mb(jvm_pid),
            "jvm_heap_used": heap,
            "jvm_nonheap_used": nonheap,
        }

    def end_to_end(self, setup_s: float) -> dict[str, dict]:
        by_type: dict[str, list[float]] = {}
        by_kind: dict[tuple[str, str], list[float]] = {}
        for r in self.records:
            if r["ok"]:
                by_type.setdefault(r["type"], []).append(r["s"])
                by_kind.setdefault((r["type"], r["label"]), []).append(r["s"])
        # one block of the op mix at each kind's median latency; each kind's
        # median shrugs off a burst of host noise that hits one block
        cycle = sum(len(lat) * quantile(lat, 0.5) for lat in by_kind.values()) / self.window_blocks
        ok = [s for lat in by_type.values() for s in lat]
        self.failed = sum(not r["ok"] for r in self.records) + sum(not v for _, v in self.verify)
        self.attempted = len(self.records) + len(self.verify)
        level = tail_level(len(ok))
        self.memory = self.memory_mb()
        m = {
            "setup_s": (setup_s, "s"),
            "cycle_s": (cycle, "s"),
            "cycle_cpu_s": (self.window_cpu_s / self.window_blocks, "s"),
            "ops_per_s": (len(ok) / self.window_s, "1/s"),
            "op_p50_s": (quantile(ok, 0.5), "s"),
            "op_p90_s": (quantile(ok, level), "s"),
            "peak_rss_mb": (self.memory["driver_rss"] + self.memory["jvm_rss"], "MB"),
            "driver_rss_mb": (self.memory["driver_rss"], "MB"),
            "ops_failed_frac": (self.failed / self.attempted, "ratio"),
        }
        for t, lat in sorted(by_type.items()):
            m[f"{t}_p50_s"] = (quantile(lat, 0.5), "s")
        m.update(self.extra_e2e)
        out = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
        out["op_p50_s"]["samples"] = out["op_p90_s"]["samples"] = len(ok)
        out["op_p90_s"]["level"] = level
        for t, lat in by_type.items():
            out[f"{t}_p50_s"]["samples"] = len(lat)
        return out


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)


def latest_untraced(root: str, stamps: dict) -> Optional[dict]:
    """The newest untraced result whose stamps equal ``stamps`` (trace aside)."""
    out = os.path.join(root, OUT_DIR)
    if not os.path.isdir(out):
        return None
    want = {k: v for k, v in stamps.items() if k != "trace"}
    best = None
    for name in os.listdir(out):
        if not (name.startswith("result-") and name.endswith(".json")):
            continue
        with open(os.path.join(out, name)) as f:
            res = json.load(f)
        st = res.get("stamps", {})
        if st.get("trace") == 0 and {k: v for k, v in st.items() if k != "trace"} == want:
            if best is None or res["finished_at"] > best["finished_at"]:
                best = res
    return best


def execute(run: Run, workload) -> dict:
    """Set up, warm, measure, verify; return the full report."""
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    marks = [("start", run.t_proc)]
    spark = run.start_spark()
    marks.append(("spark", time.perf_counter()))
    workload.setup(run, spark)
    marks.append(("inputs", time.perf_counter()))
    blocks = workload.blocks(run, spark)
    run.warm(blocks, workload.warm_blocks)
    marks.append(("warm", time.perf_counter()))
    setup_s = marks[-1][1] - run.t_proc
    setup_parts = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    workload.before_window(run, spark)
    run.measure(blocks, workload.window_min_blocks)
    workload.finish(run, spark)
    if run.warm_failed:
        run.check_final("warm-up ops", False)
    e2e = run.end_to_end(setup_s)
    stamps = run.stamps()
    report = {
        "stamps": stamps,
        "end_to_end": e2e,
        "attempted": run.attempted,
        "failed": run.failed,
        "window_s": run.window_s,
        "window_blocks": run.window_blocks,
        "window_cpu_s": run.window_cpu_s,
        "setup_parts_s": setup_parts,
        "window_steal_frac": run.steal_frac,
        "memory_mb": run.memory,
        "final_checks": dict(run.verify),
        "ops": [[r["type"], r["label"], r["s"], r["ok"]] for r in run.records],
        "warm_ops": [[r["type"], r["label"], r["s"], r["ok"]] for r in run.warm_records],
        "errors": run.errors[:5],
        "finished_at": time.time(),
    }
    if run.tracer.enabled:
        per_layer, detail = layers.per_layer(run)
        report["per_layer"] = per_layer
        report["layer_detail"] = detail
        base = latest_untraced(run.root, stamps)
        if base is not None:
            b = base["end_to_end"]
            report["trace_overhead"] = {
                k: e2e[k]["value"] / b[k]["value"] - 1.0 for k in ("cycle_s", "op_p50_s", "ops_per_s") if b[k]["value"]
            }
        else:
            report["trace_overhead"] = None
    return report
