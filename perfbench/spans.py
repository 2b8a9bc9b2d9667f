"""Spans around the engine's public calls, recorded from the benchmark's side.

A span holds name, start, end, parent and op id, plus the Spark job-id range
it covered. Spans stay in memory and are written out when the run ends.
Nothing inside ``delta_rs_spark`` is edited: ``instrument`` wraps the
package's public functions and methods for the duration of a traced run and
``restore`` puts the originals back. With tracing off no wrapper is
installed and ``span`` does nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


def layer_of(name: str) -> str:
    """``op.*`` spans are the benchmark's own glue; the rest name a layer."""
    head = name.split(".", 1)[0]
    return "bench" if head == "op" else head


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._dag = None
        self._saved: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        # DAGScheduler.nextJobId counts every job submitted on any thread, so
        # the jobs a span caused are the ids between its two readings — also
        # those launched from the engine's own driver thread pools
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        # the span's own job-id readings fall inside it, so the op's glue
        # (its self time) holds only the benchmark's Python work
        rec["start"] = time.perf_counter()
        rec["job0"] = self.next_job_id()
        try:
            yield rec
        finally:
            rec["job1"] = self.next_job_id()
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def clear(self) -> None:
        self.spans.clear()

    # -- wrapping the engine's public surface -------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def instrument(self) -> None:
        """Wrap the public calls each layer is measured at."""
        from delta_rs_spark import DeltaTable, cdf, dml, maintenance, writer
        from delta_rs_spark.protocol.snapshot import Snapshot

        tracer = self
        init = DeltaTable.__init__
        load = Snapshot.__dict__["load"].__func__
        apply_new = Snapshot.apply_new_versions
        to_df = Snapshot.to_df
        df_for_adds = Snapshot.df_for_adds

        def traced_load(cls, log, version=None):
            with tracer.span("protocol.load") as s:
                snap = load(cls, log, version)
            s["attrs"].update(log=log, version=snap.version, active_files=len(snap.state.files))
            return snap

        def traced_apply(snap):
            with tracer.span("protocol.update") as s:
                new = apply_new(snap)
            s["attrs"].update(replayed=new.version - snap.version, active_files=len(new.state.files))
            return new

        def traced_to_df(snap, spark, *a, **kw):
            with tracer.span("scan.to_df", active_files=len(snap.state.files)):
                return to_df(snap, spark, *a, **kw)

        def traced_df_for_adds(snap, spark, adds, *a, **kw):
            with tracer.span("scan.df_for_adds", files=len(adds)):
                return df_for_adds(snap, spark, adds, *a, **kw)

        def traced_init(table, *a, **kw):
            with tracer.span("protocol.open"):
                init(table, *a, **kw)

        self._patch(DeltaTable, "__init__", traced_init)
        self._patch(Snapshot, "load", classmethod(traced_load))
        self._patch(Snapshot, "apply_new_versions", traced_apply)
        self._patch(Snapshot, "to_df", traced_to_df)
        self._patch(Snapshot, "df_for_adds", traced_df_for_adds)

        def wrap_dml(name: str, fn):
            def traced(spark, table, *a, **kw):
                cfg = table.metadata().configuration or {}
                before = {f.path: f.num_records for f in table.snapshot.files()}
                dv = str(cfg.get("delta.enableDeletionVectors", "")).lower() == "true"
                with tracer.span(name, dv=dv) as s:
                    out = fn(spark, table, *a, **kw)
                s["attrs"].update(result=out, before=before, log=table.log)
                return out

            return traced

        self._patch(dml, "merge", wrap_dml("dml.merge", dml.merge))
        self._patch(dml, "delete", wrap_dml("dml.delete", dml.delete))

        def wrap(name: str, fn, keep_result: bool = False):
            def traced(*a, **kw):
                with tracer.span(name) as s:
                    out = fn(*a, **kw)
                if keep_result:
                    s["attrs"]["result"] = out
                return out

            return traced

        self._patch(writer, "write_deltalake", wrap("writer.write", writer.write_deltalake))
        self._patch(cdf, "load_cdf", wrap("cdf.load_cdf", cdf.load_cdf))
        self._patch(maintenance, "optimize", wrap("maintenance.optimize", maintenance.optimize, True))
        maybe_checkpoint = maintenance.maybe_checkpoint

        def traced_checkpoint(table, version, interval=10):
            with tracer.span("maintenance.checkpoint", version=version, interval=interval) as s:
                cp = maybe_checkpoint(table, version, interval=interval)
            s["attrs"]["written"] = cp is not None
            return cp

        self._patch(maintenance, "maybe_checkpoint", traced_checkpoint)

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of a frame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.keySet().iterator()
    while it.hasNext():
        key = it.next()
        out[key] = phases.get(key).get().durationMs() / 1000.0
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
