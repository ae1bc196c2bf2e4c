"""The ingest pipeline both message workloads drive: three routes
through the public ``Engine`` API, and the output check against the
generator's ground truth."""

from __future__ import annotations

import dataclasses
from pathlib import Path

import numpy as np

from perfbench import gen

ROUTES_TOML = """
[[routes]]
filter = "sensors/+/temp"
script = "celsius"
table = "temps"

[[routes]]
filter = "devices/#"
script = "records"
table = "metrics"
"""


def device_records(msg: dict) -> list[dict]:
    """The Lua-equivalent record transform: one reading per device
    message, a second record for alerts, an error record for a torn
    payload (whose id is still recoverable from its bytes)."""
    j = msg["json"]
    if not isinstance(j, dict):
        m = gen.ID_RE.search(msg["payload"] or "")
        return [{"columns": {"id": m.group(1) if m else "-1", "error": "bad_json"}}]
    recs = [{"columns": {"id": j["id"], "value": j["t"], "device": msg["topic"].split("/")[1]}}]
    if j.get("alert"):
        recs.append({"table": "alerts", "columns": {"id": j["id"], "alert": j["alert"]}})
    return recs


def celsius(df):
    from pyspark.sql import functions as F

    from hermod_spark.operators.transforms import celsius_transform

    t = F.get_json_object("payload", "$.t").cast("double")
    return celsius_transform(df.withColumn("temperature", t))


def records(df):
    from hermod_spark.operators.transforms import record_transform

    return record_transform(df, device_records, default_table=gen.TABLE_METRICS)


TRANSFORMS = {"celsius": celsius, "records": records}


def make_engine(tracer):
    """A plain ``Engine``; with tracing on, a subclass that wraps
    ``plan_cached`` and ``MultiTableWriter.write`` in spans. Either way
    ``engine.tracer`` is the tracer the caller's own spans go to."""
    from hermod_spark import Engine, config
    from hermod_spark.sinks.writer import MultiTableWriter

    cfg = config.loads(ROUTES_TOML)
    if not tracer.enabled:
        engine = Engine(cfg, transforms=TRANSFORMS)
        engine.tracer = tracer
        return engine

    class TracedWriter(MultiTableWriter):
        def write(self, branches):
            with tracer.span("sinks.write", tables=len(branches)):
                return super().write(branches)

    class TracedEngine(Engine):
        def plan_cached(self, messages, quarantine=False):
            with tracer.span("plans.plan_cached"):
                return super().plan_cached(messages, quarantine)

        def writer(self, base_path=None):
            w = super().writer(base_path)
            return TracedWriter(**{f.name: getattr(w, f.name) for f in dataclasses.fields(w)})

    engine = TracedEngine(cfg, transforms=TRANSFORMS)
    engine.tracer = tracer
    return engine


def _id_column(table: str):
    from pyspark.sql import functions as F

    if table == gen.TABLE_METRICS:
        src = F.col("columns")["id"]
    else:
        src = F.regexp_extract(
            F.col("raw" if table == gen.TABLE_RAW else "payload"), gen.ID_PATTERN, 1
        )
    return F.coalesce(src.cast("long"), F.lit(-1)).alias("id")


def check_outputs(spark, out_dirs: list[Path], expected: dict[str, np.ndarray]) -> tuple[int, dict]:
    """Compare every table under ``out_dirs`` (one dir per pass over
    the same messages) with the expected rows per message id.

    Returns (failed message ids, rows per table). A message fails when
    any table holds a different number of its rows than expected —
    missing, duplicated, or misrouted. Rows whose id cannot be mapped
    to a message count as failures too."""
    n = len(next(iter(expected.values())))
    reps = len(out_dirs)
    bad = np.zeros(n, bool)
    stray = 0
    rows = {}
    for table, want in expected.items():
        paths = [str(d / table) for d in out_dirs if (d / table).is_dir()]
        if paths:
            ids = spark.read.parquet(*paths).select(_id_column(table)).toPandas()["id"].to_numpy()
        else:
            ids = np.zeros(0, np.int64)
        ok = (ids >= 0) & (ids < n)
        stray += int((~ok).sum())
        got = np.bincount(ids[ok], minlength=n)
        bad |= got != want * reps
        rows[table] = int(len(ids)) // max(1, reps)
    return int(bad.sum()) + stray, rows
