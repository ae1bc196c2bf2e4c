"""Shared machinery: work dirs, the Spark session, spans, Spark
status-store deltas, the streaming-progress listener, memory."""

from __future__ import annotations

import gc
import itertools
import json
import os
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from perfbench.stats import median, percentile

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def prepare_process(workdir: Path) -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable by Spark's Python workers. Must run before the
    JVM starts: its temp dir and the workers' environment are fixed
    at launch."""
    shutil.rmtree(workdir, ignore_errors=True)
    (workdir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "tmp")
    # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(workdir / "tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def start_session(workdir: Path, cpus: int):
    """The engine's own session factory at ``local[cpus]``."""
    from hermod_spark import get_spark

    tmp = str(workdir / "tmp")
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            # a fixed-size heap: no run-to-run variance from heap growth
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def quiesce(spark) -> None:
    """Python + JVM garbage collection between timed passes, so one
    pass's garbage is not billed to the next."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def dir_files(path: Path) -> tuple[int, int]:
    """(data files, bytes) under a sink directory."""
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    at exit. Disabled, ``span`` is a bare ``yield``. Spans opened on a
    thread with no open span of its own (foreachBatch callbacks run on
    a py4j thread) take the innermost span open on the main thread as
    parent."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else 0)
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "run": self.run_id, **attrs}
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        if self.enabled:
            path.write_text(json.dumps(self.spans))


# ------------------------------------------------ Spark status deltas


class StageDelta:
    """Shuffle bytes and task skew of the Spark stages that ran since
    the last ``take()``, read from Spark's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._seen = max((sid for sid, _ in self._stage_ids()), default=-1)

    def _stage_list(self):
        return self._store.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )

    def _stage_ids(self):
        stages = self._stage_list()
        for i in range(stages.size()):
            sd = stages.apply(i)
            yield sd.stageId(), sd

    def take(self) -> dict:
        """{'shuffle_bytes', 'task_skew', 'stages'}; task skew is the
        largest max/median task run time over stages of >= 2 tasks."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        shuffle = 0
        skew = 1.0
        n = 0
        top = self._seen
        for sid, sd in self._stage_ids():
            if sid <= self._seen:
                continue
            top = max(top, sid)
            n += 1
            shuffle += sd.shuffleWriteBytes()
            if sd.numTasks() >= 2:
                summ = self._store.taskSummary(sid, sd.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        skew = max(skew, mx / med)
        self._seen = top
        return {"shuffle_bytes": shuffle, "task_skew": skew, "stages": n}


# --------------------------------------------------- streaming progress


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _offset_index(off) -> int | None:
    """The line index of a source offset (None before the first batch,
    when Spark reports no offset or the JSON ``null``)."""
    try:
        d = json.loads(off) if isinstance(off, str) else off
    except ValueError:
        return None
    return d.get("index") if isinstance(d, dict) else None


def make_progress_listener():
    """A StreamingQueryListener keeping every progress event of every
    query (``recentProgress`` keeps only the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            src = p.sources[0] if p.sources else None
            start = _iso_epoch(p.timestamp)
            dur = dict(p.durationMs)
            rec = {
                "query": str(p.id),
                "batch": p.batchId,
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1000.0,
                "dur": dur,
                "rows": p.numInputRows,
                "lo": _offset_index(src.startOffset) if src else None,
                "hi": _offset_index(src.endOffset) if src else None,
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_query(self, qid: str) -> list[dict]:
            with self._lock:
                return [e for e in self.events if e["query"] == qid]

    return Progress()


def wait_for_progress(listener, qid: str, batch_id: int, timeout: float) -> bool:
    """Progress events arrive asynchronously; a query's last event can
    land after ``awaitTermination`` returns."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if any(e["batch"] >= batch_id for e in listener.for_query(qid)):
            return True
        time.sleep(0.02)
    return False


def engine_metrics(events: list[dict]) -> dict:
    """Per-trigger engine costs from progress events that did work."""
    work = [e for e in events if e["hi"] is not None and e["lo"] != e["hi"]]
    if not work:
        return {}
    trig = [e["dur"].get("triggerExecution", 0) for e in work]
    return {
        "engine.batches": len(work),
        "engine.add_batch_ms_p50": median([e["dur"].get("addBatch", 0) for e in work]),
        "engine.trigger_ms_p50": percentile(trig, 50),
        "engine.trigger_ms_p90": percentile(trig, 90),
        "engine.checkpoint_ms_p50": median(
            [e["dur"].get("walCommit", 0) + e["dur"].get("commitOffsets", 0) for e in work]
        ),
        "engine.rows_per_batch": median([e["hi"] - (e["lo"] or 0) for e in work]),
        "sources.latest_offset_ms_p50": median([e["dur"].get("latestOffset", 0) for e in work]),
        "sources.latest_offset_ms_max": max(e["dur"].get("latestOffset", 0) for e in events),
        "sources.get_batch_ms_p50": median([e["dur"].get("getBatch", 0) for e in work]),
        "plans.query_planning_ms_p50": median([e["dur"].get("queryPlanning", 0) for e in work]),
        "sources.read_amplification": sum(e["rows"] for e in work)
        / max(1, sum(e["hi"] - (e["lo"] or 0) for e in work)),
    }


# --------------------------------------------------------------- memory


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Σ of peak resident set sizes of this process and every process
    it started (the JVM and Spark's Python workers), in MiB. Workers
    that already exited are not counted."""
    return sum(_vm_hwm_kb(p) for p in _descendants(os.getpid())) / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until it and every Python worker it started are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    procs = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
