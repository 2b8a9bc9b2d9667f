"""Helpers the workloads share."""

from __future__ import annotations

from spans import catalyst_phases


def collect(run, build, **attrs) -> list:
    """Build a frame with ``build()`` inside a ``spark.plan`` span and run it to
    the driver inside a ``spark.exec`` span; in a traced run also record the
    Catalyst phases of the frame the benchmark holds."""
    with run.tracer.span("spark.plan"):
        df = build()
    with run.tracer.span("spark.exec", **attrs) as s:
        rows = df.collect()
    if s is not None:
        s["attrs"]["phases"] = catalyst_phases(df)
    return rows
