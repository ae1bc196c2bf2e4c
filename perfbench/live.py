"""The live leg: open-loop traffic through the live ``mqtt`` source.

Measured only in the traced ``curate`` run, the traced run with the
most room under the per-run time limit; its numbers are the per-layer
metrics prefixed ``live.``. It is not a workload of its own: each
trigger of the seed build costs about 2 s, so a steady p99 needs phases
of tens of seconds per rate, more than the benchmark's run budget
allows.

A generator thread publishes through the file broker double on a fixed
schedule that does not slow when the engine slows; the live source's
bridge spools what it receives and ``Engine.run_stream(quarantine=True)``
runs with a continuous trigger. Two phases at pinned rates: ``low``
well under capacity, ``high`` a rate at which the seed build's backlog
stayed flat (``live.sources.lag_msgs_end`` close to ``lag_msgs_max``,
about one trigger's worth of messages). Many small batches, so
per-trigger fixed costs (offset discovery, planning, checkpoint, small
files) dominate.
"""

from __future__ import annotations

import json
import threading
import time

import numpy as np

from perfbench import gen, harness, ingest
from perfbench.stats import latency_summary, median, percentile

LOW_RATE = 200.0
LOW_SECONDS = 5.0
HIGH_RATE = 1500.0
HIGH_SECONDS = 8.0
WARM_RATE = 300.0
WARM_SECONDS = 2.0
DRAIN_TIMEOUT_S = 60.0
# a run whose generator sent its p99 message later than this after it
# was due is rejected: the offered load was not the pinned one
GENERATOR_LATE_LIMIT_MS = 200.0
FACTORY = "hermod_spark.sources.mqtt_testing:file_client_factory"


class Publisher(threading.Thread):
    """Sends message i at ``t0 + due[i]`` whatever the engine does; a
    message that could not be sent on time goes out as soon as
    possible, and its lateness is recorded."""

    def __init__(self, handle, ms: gen.MessageSet, due: np.ndarray):
        super().__init__(daemon=True)
        self.handle = handle
        self.ms = ms
        self.due_rel = due
        self.due = np.zeros(len(ms))
        self.sent = np.zeros(len(ms))
        self.count = 0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            t0 = time.time() + 0.05
            self.due = t0 + self.due_rel
            for i in range(len(self.ms)):
                wait = self.due[i] - time.time()
                if wait > 0:
                    time.sleep(wait)
                payload = self.ms.payloads[i].replace(
                    ', "t"', f', "ts": {self.due[i]:.6f}, "t"', 1
                )
                self.handle.publish(self.ms.topics[i], payload)
                self.sent[i] = time.time()
                self.count = i + 1
        except Exception as ex:  # noqa: BLE001 - the caller raises it
            self.error = ex


class SpoolWatcher(threading.Thread):
    """Samples published − spooled lines (the bridge's backlog)."""

    def __init__(self, spool, pub: Publisher):
        super().__init__(daemon=True)
        self.spool, self.pub = spool, pub
        self.samples: list[int] = []
        self.stop = threading.Event()

    def run(self) -> None:
        lines, pos = 0, 0
        while not self.stop.wait(0.05):
            try:
                with open(self.spool, "rb") as fh:
                    fh.seek(pos)
                    data = fh.read()
            except FileNotFoundError:
                continue
            pos += len(data)
            lines += data.count(b"\n")
            self.samples.append(self.pub.count - lines)


def _live_pass(ctx, engine, tag: str, ms: gen.MessageSet, due: np.ndarray, watch: bool):
    """Start a live query, publish on schedule, wait until every message
    is committed, stop. Returns (publisher, events, out dir, spool lines,
    bridge-lag samples)."""
    from hermod_spark.sources.mqtt_testing import FileBrokerHandle

    spark = ctx.spark
    d = harness.fresh_dir(ctx.workdir / tag)
    broker, spool = d / "broker", d / "spool.jsonl"
    handle = FileBrokerHandle(str(broker))
    harness.quiesce(spark)
    stream = (
        spark.readStream.format("mqtt")
        .option("spool", str(spool))
        .option("clientFactory", FACTORY)
        .option("brokerDir", str(broker))
        .option("filter", "#")
        .load()
    )
    with engine.tracer.span("engine.run_stream"):
        q = engine.run_stream(
            stream, base_path=str(d / "out"), checkpoint=str(d / "ck"),
            trigger_once=False, quarantine=True,
        )
        pub = Publisher(handle, ms, due)
        watcher = SpoolWatcher(spool, pub) if watch else None
        try:
            pub.start()
            if watcher:
                watcher.start()
            pub.join(timeout=float(due[-1]) + 60.0)
            if pub.is_alive() or pub.error is not None:
                raise RuntimeError(f"publisher failed: {pub.error}")
            qid = str(q.id)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while time.time() < deadline:
                if q.exception() is not None:
                    raise RuntimeError(f"live query failed: {q.exception()}")
                ev = ctx.listener.for_query(qid)
                if any((e["hi"] or 0) >= len(ms) for e in ev):
                    break
                time.sleep(0.05)
        finally:
            if watcher:
                watcher.stop.set()
                watcher.join(timeout=5)
            q.stop()
    events = sorted(ctx.listener.for_query(qid), key=lambda e: e["batch"])
    lines = spool.read_bytes().splitlines()
    return pub, events, d / "out", lines, (watcher.samples if watcher else [])


def warm_up(ctx) -> None:
    ms = gen.messages(ctx.seed + 1_000_003, int(WARM_RATE * WARM_SECONDS))
    engine = ingest.make_engine(harness.Tracer(False, ""))
    _live_pass(ctx, engine, "warm", ms, gen.schedule(WARM_RATE, WARM_SECONDS), False)


def _readable_at(events, n_lines: int) -> np.ndarray:
    """Spool line index → end of the trigger that committed it."""
    at = np.full(n_lines, np.nan)
    for e in events:
        lo, hi = e["lo"] or 0, e["hi"]
        if hi is not None and hi > lo:
            at[lo:hi] = e["end"]
    return at


def measure_layers(ctx) -> tuple[dict, int, list[str]]:
    """Warm the live path, run both phases once with tracing on and
    return (``live.*`` per-layer metrics, failed messages, problems).
    A generator that fell behind its schedule is a problem: the
    offered load was not the pinned one."""
    warm_up(ctx)
    low_due = gen.schedule(LOW_RATE, LOW_SECONDS)
    high_due = LOW_SECONDS + gen.schedule(HIGH_RATE, HIGH_SECONDS)
    due = np.concatenate([low_due, high_due])
    n, n_low = len(due), len(low_due)
    ms = gen.messages(ctx.seed + 17, n)
    engine = ingest.make_engine(ctx.tracer)
    n_plans = len(ctx.tracer.durations("plans.plan_cached"))
    n_writes = len(ctx.tracer.durations("sinks.write"))
    pub, events, out, lines, bridge = _live_pass(ctx, engine, "live", ms, due, True)

    # spool line i holds the i-th message the bridge received; map it
    # back to the message id it carries
    ids = np.array(
        [int(gen.ID_RE.search(json.loads(ln)["payload"]).group(1)) for ln in lines], np.int64
    )
    readable = np.full(n, np.nan)
    if len(ids):
        readable[ids] = _readable_at(events, len(ids))
    lost = np.isnan(readable)
    failed, rows = ingest.check_outputs(ctx.spark, [out], ms.expected_counts(quarantine=True))
    failed = max(failed, int(lost.sum()))
    lat_ms = (readable - pub.due) * 1000.0
    low = latency_summary(lat_ms[:n_low][~lost[:n_low]])
    high = latency_summary(lat_ms[n_low:][~lost[n_low:]])
    work = [e for e in events if e["hi"] is not None and e["hi"] > (e["lo"] or 0)]
    # backlog: published − committed, sampled at every trigger end
    sent = np.sort(pub.sent)
    lag = [int(np.searchsorted(sent, e["end"])) - e["hi"] for e in work]
    high_end = pub.due[-1]
    before_end = [lg for lg, e in zip(lag, work) if e["end"] <= high_end]
    plans = ctx.tracer.durations("plans.plan_cached")[n_plans:]
    writes = ctx.tracer.durations("sinks.write")[n_writes:]
    files, _ = harness.dir_files(out)
    layer = {
        "latency_low_p50_ms": low["p50"],
        "latency_low_p99_ms": low["p99"],
        "latency_high_p50_ms": high["p50"],
        "latency_high_p99_ms": high["p99"],
        "latency_samples_high": high["n"],
        "messages": n,
        "sources.lag_msgs_end": before_end[-1] if before_end else 0,
        "sources.lag_msgs_max": max(lag) if lag else 0,
        "sources.bridge_lag_msgs_max": max(bridge) if bridge else 0,
        "plans.plan_ms_p50": median(plans) * 1000.0,
        "plans.quarantine_share": rows[gen.TABLE_QUARANTINE] / n,
        "plans.rows._quarantine": rows[gen.TABLE_QUARANTINE],
        "sinks.write_ms_p50": percentile(writes, 50) * 1000.0,
        "sinks.write_ms_p90": percentile(writes, 90) * 1000.0,
        "sinks.files": files,
        "sinks.files_per_batch": files / max(1, len(work)),
        "bench.generator_late_ms_p99": percentile((pub.sent - pub.due) * 1000.0, 99),
        **harness.engine_metrics(events),
    }
    problems = []
    if layer["bench.generator_late_ms_p99"] > GENERATOR_LATE_LIMIT_MS:
        problems.append(
            f"live generator p99 lateness {layer['bench.generator_late_ms_p99']:.1f} ms"
            f" > {GENERATOR_LATE_LIMIT_MS} ms"
        )
    return {f"live.{k}": v for k, v in layer.items()}, failed, problems
