"""upsert_ingest: a closed loop of micro-batches into two CDF-enabled targets.

One target is copy-on-write; the other has deletion vectors on. Loads the
writer, transactions, ``dml`` (both branches), ``maintenance`` (the
checkpoint every 10th commit and compaction), ``cdf`` and incremental
replay. Every op is checked against a pure-Python key -> row model.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np

import datagen
from common import collect
from harness import Op


def dir_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    total = 0
    for base, _, files in os.walk(root):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


SCALES = {
    "default": {"initial": 2000, "initial_files": 8, "batch": 100, "delete_width": 20},
    "tiny": {"initial": 200, "initial_files": 2, "batch": 10, "delete_width": 5},
}


class Target:
    """One table, its sinks and cached handles, and the model of its rows."""

    def __init__(self, spark, uri: str, dv: bool, rows, cfg: dict):
        from delta_rs_spark import DeltaTable, write_deltalake
        from delta_rs_spark.streaming.sink import ExactlyOnceDeltaSink, UpsertDeltaSink

        self.uri, self.dv = uri, dv
        self.kind = "dv" if dv else "cow"
        conf = {"delta.enableChangeDataFeed": "true"}
        if dv:
            conf["delta.enableDeletionVectors"] = "true"
        per_file = max(len(rows) // cfg["initial_files"], 1)
        write_deltalake(spark, spark.createDataFrame(rows), uri, configuration=conf, max_records_per_file=per_file)
        self.model = {int(k): (int(v), p) for k, v, p in rows.itertuples(index=False)}
        self.append_sink = ExactlyOnceDeltaSink(uri, app_id=f"append-{self.kind}")
        self.upsert_sink = UpsertDeltaSink(uri, condition="t.k = s.k", app_id=f"upsert-{self.kind}")
        self.handle = DeltaTable.for_path(uri)  # for delete and optimize
        self.reader = DeltaTable.for_path(uri)  # the change-feed consumer
        self.read_version = self.reader.version
        self.changes: Counter = Counter()  # (change type, key) since the last tail read
        self.epochs = {"append": 0, "upsert": 0}
        self.replays = 0


class UpsertIngest:
    name = "upsert_ingest"
    warm_blocks = 1
    window_min_blocks = 1

    def setup(self, run, spark) -> None:
        self.cfg = cfg = SCALES[run.scale]
        rng = run.rng
        self.next_key = cfg["initial"]
        self.targets = []
        for dv in (False, True):
            rows = datagen.ingest_rows(rng, np.arange(cfg["initial"]))
            uri = os.path.join(run.work_dir, "cow_target" if not dv else "dv_target")
            self.targets.append(Target(spark, uri, dv, rows, cfg))
        self.user_bytes = 0
        self.cdf_rows: list[int] = []
        run.shapes.update(
            targets={
                t.kind: {
                    "commits": t.handle.version + 1,
                    "rows": len(t.model),
                    "files": len(t.handle.files()),
                    "bytes": sum(a.size for a in t.handle.add_actions()),
                }
                for t in self.targets
            },
            batch_rows=cfg["batch"],
        )

    # -- ops --------------------------------------------------------------

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        return keys

    def _sink_call(self, run, sink, df, epoch):
        with run.tracer.span("sink.batch"):
            sink(df, epoch)

    def _append(self, run, spark, t: Target) -> Op:
        """Send a new epoch, then send it again as a retried ``foreachBatch``
        would; the sink must write the first and skip the second."""
        rows = datagen.ingest_rows(run.rng, self._new_keys(self.cfg["batch"]))
        df = spark.createDataFrame(rows)
        t.epochs["append"] += 1
        epoch = t.epochs["append"]
        self.user_bytes += datagen.user_bytes(rows)
        skipped = t.append_sink.skipped_epoch_count

        def fn():
            self._sink_call(run, t.append_sink, df, epoch)
            t.replays += 1
            self._sink_call(run, t.append_sink, df, epoch)

        def check(_):
            for k, v, p in rows.itertuples(index=False):
                t.model[int(k)] = (int(v), p)
                t.changes[("insert", int(k))] += 1
            return run.expect(t.append_sink.skipped_epoch_count, skipped + 1)

        return Op("append", fn, check, label=t.kind)

    def _upsert(self, run, spark, t: Target) -> Op:
        half = self.cfg["batch"] // 2
        live = np.fromiter(t.model.keys(), dtype=np.int64)
        old = np.sort(run.rng.choice(live, size=min(half, len(live)), replace=False))
        rows = datagen.ingest_rows(run.rng, np.concatenate([old, self._new_keys(half)]))
        df = spark.createDataFrame(rows)
        t.epochs["upsert"] += 1
        epoch = t.epochs["upsert"]
        self.user_bytes += datagen.user_bytes(rows)

        def check(_):
            for k, v, p in rows.itertuples(index=False):
                k = int(k)
                if k in t.model:
                    t.changes[("update_preimage", k)] += 1
                    t.changes[("update_postimage", k)] += 1
                else:
                    t.changes[("insert", k)] += 1
                t.model[k] = (int(v), p)
            return True

        return Op("upsert", lambda: self._sink_call(run, t.upsert_sink, df, epoch), check, label=t.kind)

    def _delete(self, run, spark, t: Target) -> Op:
        from delta_rs_spark import dml

        live = np.fromiter(t.model.keys(), dtype=np.int64)
        lo = int(run.rng.choice(live))
        hi = lo + self.cfg["delete_width"]
        gone = [k for k in t.model if lo <= k < hi]

        def fn():
            t.handle.update()
            return dml.delete(spark, t.handle, f"k >= {lo} AND k < {hi}")

        def check(res):
            for k in gone:
                del t.model[k]
                t.changes[("delete", k)] += 1
            return run.expect(int(res["numDeletedRows"]), len(gone))

        return Op("delete", fn, check, label=t.kind)

    def _tail_read(self, run, spark, t: Target) -> Op:
        from delta_rs_spark import cdf

        def fn():
            start = t.read_version + 1
            end = t.reader.update()
            df = cdf.load_cdf(spark, t.reader, starting_version=start, ending_version=end)
            return end, collect(run, lambda: df.select("_change_type", "k"))

        def check(out):
            end, rows = out
            t.read_version = end
            self.cdf_rows.append(len(rows))
            got = Counter((r[0], int(r[1])) for r in rows)
            want, t.changes = t.changes, Counter()
            return run.expect(got, want)

        return Op("tail_read", fn, check, label=t.kind)

    def _optimize(self, run, spark, t: Target) -> Op:
        from delta_rs_spark import maintenance

        def fn():
            t.handle.update()
            return maintenance.optimize(t.handle, spark)

        return Op("optimize", fn, label=t.kind)

    def blocks(self, run, spark):
        """Every block runs each op type once on each target, so windows of
        whole blocks hold the same mix; ops are built lazily so each batch is
        drawn from the model as the previous op left it. The upsert follows
        the delete, so the deletion-vector merge reads the vectors the delete
        wrote; compacting both targets at the end of the block starts every
        block from the same state."""

        def block():
            for make in (self._append, self._delete, self._upsert, self._tail_read, self._optimize):
                for t in self.targets:
                    yield make(run, spark, t)

        while True:
            yield block()

    # -- window bookkeeping and the final model check -----------------------

    def before_window(self, run, spark) -> None:
        self.bytes0 = sum(dir_bytes(t.uri) for t in self.targets)
        self.user_bytes = 0
        self.cdf_rows.clear()
        self.versions0 = {t.uri: t.reader.update() for t in self.targets}
        self.skipped0 = sum(t.append_sink.skipped_epoch_count for t in self.targets)
        self.replays0 = sum(t.replays for t in self.targets)

    def finish(self, run, spark) -> None:
        from delta_rs_spark import DeltaTable

        written = sum(dir_bytes(t.uri) for t in self.targets) - self.bytes0
        run.extra_e2e["write_amp"] = (written / max(self.user_bytes, 1), "ratio")
        commits = []
        for t in self.targets:
            table = DeltaTable.for_path(t.uri)
            rows = table.to_df(spark).select("k", "val", "payload").collect()
            got = {int(r[0]): (int(r[1]), r[2]) for r in rows}
            run.check_final(f"{t.kind} rows equal the model", got == t.model and len(rows) == len(t.model))
            # the appends' commitInfo operationMetrics, as history() shows them
            for v in range(self.versions0[t.uri] + 1, table.version + 1):
                for action in table.log.read_commit(v):
                    info = getattr(action, "info", None)
                    if info and (info.get("operationParameters") or {}).get("outputMode") == "Append":
                        m = info.get("operationMetrics") or {}
                        commits.append((int(m.get("numFiles", 0)), int(m.get("numOutputBytes", 0))))
        skipped = sum(t.append_sink.skipped_epoch_count for t in self.targets) - self.skipped0
        replays = sum(t.replays for t in self.targets) - self.replays0
        run.check_final("skipped epochs equal replays injected", skipped == replays)
        run.layer_extra.update(append_commits=commits, cdf_rows=list(self.cdf_rows), skipped_epochs=skipped)
