"""``backfill``: closed-loop drain of a recorded spool.

A seeded JSONL spool is drained by ``mqtt_replay`` through
``Engine.run_stream`` under ``availableNow`` with reference semantics
(no quarantine). Each pass starts only when the previous one ends, so
the per-row cost of sources, plans, transforms and sinks dominates and
the per-batch fixed cost is paid once per pass.
"""

from __future__ import annotations

import time

from perfbench import gen, harness, ingest
from perfbench.stats import median, percentile

SPOOL_MSGS = 150_000
COLD_MSGS = 4_000
SMALL_MSGS = 25_000


def _write_spool(path, seed: int, n: int) -> gen.MessageSet:
    from hermod_spark.sources.mqtt import write_spool_index

    ms = gen.messages(seed, n)
    gen.write_spool(str(path), ms)
    write_spool_index(str(path))
    return ms


def _drain(ctx, engine, spool, n: int, tag: str) -> tuple[float, list[dict]]:
    """One timed availableNow drain into fresh output and checkpoint
    dirs ``<tag>_out``/``<tag>_ck`` → (wall seconds, progress events).
    The spool is read as one partition per core of the session: measured
    on 4 cores, 4 partitions drained 100k messages in 6.3–7.0 s, 16 in
    11.5–12.2 s (per-task overhead)."""
    spark = ctx.spark
    harness.quiesce(spark)
    out = harness.fresh_dir(ctx.workdir / f"{tag}_out")
    ck = harness.fresh_dir(ctx.workdir / f"{tag}_ck")
    part = -(-n // spark.sparkContext.defaultParallelism)
    t0 = time.time()
    with engine.tracer.span("engine.run_stream"):
        stream = (
            spark.readStream.format("mqtt_replay")
            .option("path", str(spool))
            .option("maxMessagesPerBatch", part)
            .load()
        )
        q = engine.run_stream(stream, base_path=str(out), checkpoint=str(ck))
        q.awaitTermination()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"backfill drain failed: {q.exception()}")
    qid = str(q.id)
    if not harness.wait_for_progress(ctx.listener, qid, 0, 30.0):
        raise RuntimeError("no progress event for the backfill drain")
    return wall, ctx.listener.for_query(qid)


def warm_up(ctx) -> None:
    """A drain of a small spool pays the cold costs (Python workers,
    class loading, code generation); one untimed drain of the timed
    spool then brings the JIT to where later drains stay within a few
    percent of each other."""
    plain = ingest.make_engine(harness.Tracer(False, ""))
    cold = ctx.workdir / "cold.jsonl"
    _write_spool(cold, ctx.seed + 1_000_003, COLD_MSGS)
    _drain(ctx, plain, cold, COLD_MSGS, "cold")
    spool = ctx.workdir / "spool.jsonl"
    ctx.inputs = {"spool": spool, "messages": _write_spool(spool, ctx.seed, SPOOL_MSGS)}
    _drain(ctx, plain, spool, SPOOL_MSGS, "warm")


def measure(ctx) -> dict:
    ms, spool, n = ctx.inputs["messages"], ctx.inputs["spool"], SPOOL_MSGS
    engine = ingest.make_engine(ctx.tracer)
    walls, events, outs = [], [], []
    while not walls or sum(walls) + walls[-1] <= ctx.seconds:
        tag = f"pass{len(walls)}"
        wall, ev = _drain(ctx, engine, spool, n, tag)
        walls.append(wall)
        events.append(ev)
        outs.append(ctx.workdir / f"{tag}_out")
    failed, rows = ingest.check_outputs(ctx.spark, outs, ms.expected_counts(quarantine=False))
    res = {"e2e": {"items_per_s": median([n / w for w in walls])},
           "layer": {}, "attempted": n, "failed": failed, "notes": []}
    if not ctx.trace:
        return res

    layer = res["layer"]
    layer.update(harness.engine_metrics([e for ev in events for e in ev]))
    layer["engine.fixed_overhead_s"] = median(
        [w - sum(e["dur"].get("triggerExecution", 0) for e in ev) / 1000.0
         for w, ev in zip(walls, events)]
    )
    layer["plans.plan_ms_p50"] = median(ctx.tracer.durations("plans.plan_cached")) * 1000.0
    writes = ctx.tracer.durations("sinks.write")
    layer["sinks.write_ms_p50"] = percentile(writes, 50) * 1000.0
    layer["sinks.write_ms_p90"] = percentile(writes, 90) * 1000.0
    files, nbytes = harness.dir_files(outs[-1])
    layer["sinks.files"] = files
    layer["sinks.bytes"] = nbytes
    layer["sinks.files_per_batch"] = files / max(1, len(events[-1]))
    for t, r in rows.items():
        layer[f"plans.rows.{t}"] = r
    device_msgs = int((ms.kind == gen.KIND_DEVICE).sum())
    layer["transforms.fanout"] = rows[gen.TABLE_METRICS] / max(1, device_msgs)
    layer.update(_standalone(ctx, spool, n))
    layer.update(_overhead_and_scaling(ctx, res["e2e"]["items_per_s"]))
    return res


def _noop_drain(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _standalone(ctx, spool, n: int) -> dict:
    """Source and Python-transform throughput on their own: a batch
    ``mqtt_replay`` read and a ``record_transform`` over it, both into
    Spark's ``noop`` sink (the second of two runs; the first warms)."""
    from hermod_spark.operators.transforms import record_transform

    spark = ctx.spark

    def read():
        return (
            spark.read.format("mqtt_replay")
            .option("path", str(spool))
            .option("numPartitions", spark.sparkContext.defaultParallelism)
            .load()
        )

    out = {}
    for name, build in (
        ("sources.read_msgs_per_s", read),
        ("transforms.python_msgs_per_s",
         lambda: record_transform(read(), ingest.device_records, default_table=gen.TABLE_METRICS)),
    ):
        times = []
        for _ in range(2):
            harness.quiesce(spark)
            with ctx.tracer.span(name):
                times.append(_noop_drain(build()))
        out[name] = n / times[-1]
    return out


def _overhead_and_scaling(ctx, rate: float) -> dict:
    """Trace overhead on a smaller spool, drained untraced, traced,
    untraced (the trend of successive drains cancels). Scaling: the
    session restarts at ``local[1]`` — the single-threaded baseline —
    warms on the smaller spool, then drains the timed spool once;
    ``rate`` is the timed throughput at ``local[cpus]``."""
    small = ctx.workdir / "small.jsonl"
    n = len(_write_spool(small, ctx.seed + 7, SMALL_MSGS))
    plain = ingest.make_engine(harness.Tracer(False, ""))
    traced = ingest.make_engine(ctx.tracer)
    w = [_drain(ctx, eng, small, n, f"ov{i}")[0] for i, eng in enumerate((plain, traced, plain))]
    ctx.restart_session(1)
    _drain(ctx, plain, small, n, "single_warm")
    single = _drain(ctx, plain, ctx.inputs["spool"], SPOOL_MSGS, "single")[0]
    return {
        "bench.trace_overhead": w[1] / ((w[0] + w[2]) / 2) - 1.0,
        "bench.scaling_x": rate / (SPOOL_MSGS / single),
    }
