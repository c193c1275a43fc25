"""Measurement plumbing shared by the workloads: spans, a process-tree
memory sampler, Spark task/stage counters, a streaming progress
listener, and the session set-up every workload starts with."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default)."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory span recorder. A span is ``(name, start, end, parent,
    run_id)`` with wall-clock seconds; ``parent`` is the name of the
    enclosing span on the same thread, or None. Spans are written to a
    JSON-lines file once, at exit. Disabled, ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
                )

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------------ memory


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Python driver, the JVM it launched, and Spark's Python
    workers), sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            pid = int(entry)
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    rss[pid] = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MiB."""
        if self._thread.ident is not None and not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        self._stop.set()
        return self.peak_bytes / 2**20


# ------------------------------------------------------------------ spark counters


def stage_stats(spark, after_stage: int = -1) -> dict:
    """Task, stage, shuffle, spill and JVM GC totals of the stages with id >
    ``after_stage``, read from the application status store — the
    store Spark's UI REST API serves (``/api/v1/applications/<id>/
    stages``), queried directly because the session keeps the UI off."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    quantiles = getattr(store, "stageList$default$4")()
    task_status = getattr(store, "stageList$default$5")()
    stages = store.stageList(None, False, False, quantiles, task_status)  # a Scala Seq
    out = {"stages": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
    max_id = after_stage
    for i in range(stages.length()):
        st = stages.apply(i)
        sid = st.stageId()
        if sid <= after_stage:
            continue
        max_id = max(max_id, sid)
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["gc_s"] += st.jvmGcTime() / 1000.0
    out["max_stage_id"] = max_id
    return out


#: the counters of ``stage_stats`` every traced run reports as ``spark.<name>``
SPARK_COUNTERS = ("tasks", "stages", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "gc_s")


def last_stage_id(spark) -> int:
    return stage_stats(spark)["max_stage_id"]


def make_progress_listener(sink: list):
    """A StreamingQueryListener appending every progress event's query
    name and ``durationMs`` to ``sink``. Every event is kept, unlike
    ``StreamingQuery.recentProgress``, which holds only the last 100."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # noqa: N802 (pyspark API)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            sink.append({"name": p.name, "ms": dict(p.durationMs)})

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return ProgressListener()


# ------------------------------------------------------------------ session


def start_session(tracer: Tracer, cpus: int):
    """``session.get_spark`` + ``session.configure`` — the session
    bring-up of the ``__spark_entry__`` contract, which
    ``controlplane.boot`` does not do itself (without ``configure`` the
    Avro converter's pandas UDF cannot be unpickled on workers started
    outside the repository root)."""
    from heroku_kafka_connect_spark import session

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    with tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    with tracer.span("session.configure"):
        session.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(tracer: Tracer, cpus: int, warm_up, rss: RssSampler):
    """Session start + configure + one warm-up pass (``warm_up(spark)``)
    on a small input separate from the measured one. Returns ``(spark,
    seconds)``; the time starts before the JVM is launched, and so does
    the memory sampling (input generation before it is not counted)."""
    rss.start()
    t0 = time.perf_counter()
    spark = start_session(tracer, cpus)
    with tracer.span("warm_up"):
        warm_up(spark)
    return spark, time.perf_counter() - t0
