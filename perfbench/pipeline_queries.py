"""pipeline_queries: the catalog's headline queries over seeded tables.

Loads Catalyst, the ``operators/`` kernels and py4j Column building, and
bypasses the Delta protocol, writer and DML layers: a change to those must
leave this workload flat. The tables are generated from the seed in the
catalog's schema (see ``datagen.pipeline_tables``).
"""

from __future__ import annotations

import hashlib
import os
import statistics

import datagen
from common import collect
from harness import Op

SCALES = {"default": {"lineitems": 6000}, "tiny": {"lineitems": 1200}}
# Left out for the run budget: its Arrow UDF's first call (Python workers,
# tokenizer training) adds about 8 s of warm-up and its encode about 3 s a
# sweep. bench.py times it.
LEFT_OUT = {"corpus_bpe_encode_arrow"}


def _canon(v):
    """Order-free, float-rounded form of a result, so two equal results hash
    equal whatever the partitioning and summation order."""
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(rows) -> tuple[int, str]:
    canon = sorted(repr(_canon(tuple(r))) for r in rows)
    return len(rows), hashlib.sha1("\n".join(canon).encode()).hexdigest()


class PipelineQueries:
    name = "pipeline_queries"
    warm_blocks = 1  # also records each query's reference result
    window_min_blocks = 1

    def setup(self, run, spark) -> None:
        from delta_rs_spark.catalog import QUERIES

        self.sf_dir = os.path.join(run.work_dir, "tables")
        sizes = datagen.write_pipeline_tables(run.rng, self.sf_dir, SCALES[run.scale]["lineitems"])
        self.queries = [(n, q.spark) for n, q in QUERIES.items() if q.headline and n not in LEFT_OUT]
        self.reference: dict[str, tuple[int, str]] = {}
        run.shapes.update(tables=len(sizes), bytes=sum(sizes.values()), queries=len(self.queries))

    def _query(self, run, spark, name: str, build) -> Op:
        def fn():
            with run.tracer.span("catalog.query_build", query=name):
                df = build(spark, self.sf_dir)
            return collect(run, lambda: df, query=name)

        def check(rows):
            got = digest(rows)
            want = self.reference.setdefault(name, got)
            return run.expect(got, want)

        return Op("query", fn, check, label=name)

    def blocks(self, run, spark):
        while True:
            yield [self._query(run, spark, n, q) for n, q in self.queries]

    def before_window(self, run, spark) -> None:
        pass

    def finish(self, run, spark) -> None:
        per_query: dict[str, list[float]] = {}
        for r in run.records:
            if r["ok"]:
                per_query.setdefault(r["label"], []).append(r["s"])
        total = sum(statistics.median(v) for v in per_query.values())
        run.extra_e2e["query_total_s"] = (total, "s")
        run.check_final("every headline query timed", len(per_query) == len(self.queries))
