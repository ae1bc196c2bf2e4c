"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, starts the engine's Spark session at ``local[nproc]``, runs
an untimed warm-up (billed to ``setup_s``), measures for ``--seconds``,
checks every output against the generator's ground truth and prints one
JSON line: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. Exits nonzero
when an output check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402

WORKLOADS = ("backfill", "curate")


@dataclass
class Ctx:
    """What a workload's ``warm_up`` and ``measure`` get."""

    seed: int
    seconds: float
    trace: bool
    cpus: int
    workdir: Path
    tracer: harness.Tracer
    spark: object = None
    listener: object = None
    delta: object = None
    inputs: dict = field(default_factory=dict)

    def start_session(self, cpus: int) -> None:
        from hermod_spark.sources import mqtt

        with self.tracer.span("session.get_spark"):
            self.spark = harness.start_session(self.workdir, cpus)
        mqtt.register(self.spark)
        self.listener = harness.make_progress_listener()
        self.spark.streams.addListener(self.listener)

    def restart_session(self, cpus: int) -> None:
        self.spark.streams.removeListener(self.listener)
        self.spark.stop()
        self.start_session(cpus)


def _spec() -> dict:
    with open(harness.ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()

    import importlib

    workload = importlib.import_module(f"perfbench.{args.workload}")
    workdir = harness.WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    harness.prepare_process(workdir)
    run_id = f"{args.workload}-{args.seed}-{int(T_PROCESS)}"
    ctx = Ctx(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cpus=len(os.sched_getaffinity(0)),  # nproc
        workdir=workdir,
        tracer=harness.Tracer(bool(args.trace), run_id),
    )
    try:
        t0 = time.time()
        ctx.start_session(ctx.cpus)
        session_s = time.time() - t0
        t1 = time.time()
        with ctx.tracer.span("session.warmup"):
            workload.warm_up(ctx)
        warmup_s = time.time() - t1
        setup_s = time.time() - T_PROCESS
        with ctx.tracer.span("run", workload=args.workload):
            res = workload.measure(ctx)
        rss = harness.peak_rss_mb()
    finally:
        harness.stop_spark(ctx.spark)
        shutil.rmtree(workdir, ignore_errors=True)

    correct = res["failed"] == 0 and res.get("checks_ok", True)
    if args.trace:
        ctx.tracer.write(harness.WORK / f"trace-{run_id}.json")
        values = dict(res["layer"])
        values["session.start_s"] = session_s
        values["session.warmup_s"] = warmup_s
        names = spec["per_layer"]
    else:
        values = dict(res["e2e"])
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = rss
        names = spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing and not args.trace:
        raise RuntimeError(f"workload did not produce {missing}")
    # a per-layer metric of a layer this workload does not use reads 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    for note in res.get("notes", []):
        print(note, file=sys.stderr)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
