"""snapshot_scan: seeded reads against a partitioned table with a long log.

Loads the protocol layer (log replay, checkpoint decode, time travel) and
scan planning (``Snapshot.to_df`` / ``df_for_adds``); the writer, ``dml``
and ``maintenance`` do no work while it is timed.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

import datagen
from common import collect
from harness import Op

def checkpoints_in(uri: str) -> int:
    """Checkpoint versions found under the table's ``_delta_log``."""
    names = os.listdir(os.path.join(uri, "_delta_log"))
    return len({n.split(".", 1)[0] for n in names if ".checkpoint." in n})


PARTS = 16
CHECKPOINT_INTERVAL = 10  # the engine's default
# One bulk commit (PARTS x files_per_part files), then tail commits of one
# file each; the table's default checkpoint interval of 10 applies.
SCALES = {
    "default": {"files_per_part": 16, "rows_per_file": 64, "tail_commits": 19, "tail_rows": 32},
    "tiny": {"files_per_part": 2, "rows_per_file": 16, "tail_commits": 13, "tail_rows": 8},
}


class SnapshotScan:
    name = "snapshot_scan"
    warm_blocks = 2  # the stats scans' planning warms up over about 8 ops
    window_min_blocks = 2

    def setup(self, run, spark) -> None:
        from delta_rs_spark import DeltaTable, write_deltalake

        cfg = SCALES[run.scale]
        self.uri = os.path.join(run.work_dir, "scan_table")
        rng = run.rng
        bulk = datagen.scan_bulk_rows(rng, PARTS, cfg["files_per_part"], cfg["rows_per_file"])
        frame = spark.createDataFrame(bulk).repartition(PARTS, "p").sortWithinPartitions("p", "ts")
        write_deltalake(spark, frame, self.uri, partition_by=["p"], max_records_per_file=cfg["rows_per_file"])
        parts = [bulk]
        next_id, ts0 = len(bulk), int(bulk["ts"].max()) + 1
        self.tail_ts0 = ts0
        # tail commits visit the partitions in a seeded order, so any run of
        # consecutive commits spans the same number of partitions
        order = rng.permutation(PARTS)
        for c in range(1, cfg["tail_commits"] + 1):
            rows = datagen.scan_tail_rows(rng, c, int(order[c % PARTS]), next_id, ts0, cfg["tail_rows"])
            write_deltalake(spark, spark.createDataFrame(rows).coalesce(1), self.uri, partition_by=["p"])
            parts.append(rows)
            next_id += len(rows)
            ts0 += len(rows)
        model = pd.concat(parts, ignore_index=True)
        self.p, self.ts, self.v, self.c = (model[k].to_numpy() for k in ("p", "ts", "v", "c"))
        self.latest = cfg["tail_commits"]
        self.ts_max = int(self.ts.max())
        table = DeltaTable.for_path(self.uri)
        if table.version != self.latest:
            raise RuntimeError(f"table built at version {table.version}, expected {self.latest}")
        run.shapes.update(
            commits=table.version + 1,
            files=len(table.files()),
            bytes=sum(a.size for a in table.add_actions()),
            rows=len(model),
            partitions=PARTS,
            checkpoints=checkpoints_in(self.uri),
        )

    def _expect_agg(self, run, mask):
        want = (int(mask.sum()), int(self.v[mask].sum()) if mask.any() else None)
        return lambda rows: run.expect((rows[0][0], rows[0][1]), want)

    def _scan_partition(self, run, spark) -> Op:
        from delta_rs_spark import DeltaTable

        k, cut = int(run.rng.integers(0, PARTS)), int(run.rng.integers(100, 1000))

        def fn():
            table = DeltaTable.for_path(self.uri)
            df = table.to_df(spark, partition_filters=[("p", "=", str(k))])
            return collect(run, lambda: df.where(F.col("v") < cut).agg(F.count(F.lit(1)), F.sum("v")))

        return Op("scan", fn, self._expect_agg(run, (self.p == k) & (self.v < cut)), label="partition")

    def _scan_stats(self, run, spark) -> Op:
        """A range over recent ``ts`` (the tail commits): only file stats can
        prune it, and it selects a few files across several partitions."""
        from delta_rs_spark import DeltaTable

        width = max((self.ts_max - self.tail_ts0) // 4, 1)
        lo = int(run.rng.integers(self.tail_ts0, self.ts_max - width + 1))
        hi = lo + width

        def fn():
            table = DeltaTable.for_path(self.uri)
            df = table.to_df(spark, skip_predicates=[("ts", ">=", lo), ("ts", "<", hi)])
            in_range = (F.col("ts") >= lo) & (F.col("ts") < hi)
            return collect(run, lambda: df.where(in_range).agg(F.count(F.lit(1)), F.sum("v")))

        return Op("scan", fn, self._expect_agg(run, (self.ts >= lo) & (self.ts < hi)), label="stats")

    def _timetravel(self, run, spark) -> Op:
        from delta_rs_spark import DeltaTable

        # past the first checkpoint and short of the second, so every op
        # decodes the same checkpoint and replays a tail of 1-9 commits
        version = int(run.rng.integers(CHECKPOINT_INTERVAL + 1, min(2 * CHECKPOINT_INTERVAL, self.latest)))

        def fn():
            table = DeltaTable.for_version(self.uri, version)
            df = table.to_df(spark)
            return collect(run, lambda: df.agg(F.count(F.lit(1))))

        want = int((self.c <= version).sum())
        return Op("timetravel", fn, lambda rows: run.expect(rows[0][0], want))

    def blocks(self, run, spark):
        while True:
            # as many ops cheaper than the stats scans as dearer ones, so the
            # median op of a window sits inside the stats-scan cluster
            yield [
                self._scan_partition(run, spark),
                self._scan_stats(run, spark),
                self._timetravel(run, spark),
                self._scan_stats(run, spark),
            ]

    def before_window(self, run, spark) -> None:
        pass

    def finish(self, run, spark) -> None:
        pass
