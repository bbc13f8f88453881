"""Tracing for the per-layer run: spans around calls into the engine's
modules, Spark job attribution through job tags, per-job and per-stage
counters from Spark's status store (works with the UI off), and
micro-batch progress from a StreamingQueryListener.

Spans are kept in memory and written out when the run ends. A span is
(id, name, op, parent, thread, wall, start, end); every span adds the job tag
`bd6s<id>` to the session while it is open, so a job carries the tags of
every span that was open on its thread when it was submitted. Jobs with
no span tag (streaming micro-batches run in a cloned session) are
attributed by submission time to the innermost main-thread span open
at that moment.
"""

from __future__ import annotations

import inspect
import itertools
import statistics
import sys
import threading
import time
from contextlib import contextmanager

#: engine functions wrapped during a traced pass, by layer: module ->
#: None (every public function of the module) or a tuple of names
PATCHED = {
    "bigdata06_spark.catalog": ("load_table",),
    "bigdata06_spark.streaming.ops": ("run_to_table",),
    "bigdata06_spark.operators.dedup": None,
    "bigdata06_spark.operators.similarity": None,
    "bigdata06_spark.operators.classifier": None,
    "bigdata06_spark.operators.textops": None,
    "bigdata06_spark.operators.multimodal": None,
}


def layer_of(module: str, fn_name: str) -> str:
    """Span name of a wrapped function: `catalog.load_table`,
    `streaming.run_to_table`, `operators.<module>`."""
    short = module.removeprefix("bigdata06_spark.")
    if short.startswith("operators."):
        return short
    return f"{short.split('.')[0]}.{fn_name}"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.spark = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.op = None  # op id the main thread is running

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one span when the tracer is active; a no-op otherwise."""
        if not self.active:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        rec = {
            "id": next(self._ids), "name": name,
            "op": op or (parent["op"] if parent else self.op),
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name,
            "wall": time.time(), "start": time.perf_counter(), "end": None,
        }
        st.append(rec)
        tag = f"bd6s{rec['id']}"
        if self.spark is not None:
            self.spark.addTag(tag)
        try:
            yield rec
        finally:
            if self.spark is not None:
                self.spark.removeTag(tag)
            rec["end"] = time.perf_counter()
            st.pop()
            self.spans.append(rec)

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        # same module and qualname: cloudpickle still ships the function
        # to workers by reference, which resolves to the original there
        for attr in ("__module__", "__name__", "__qualname__", "__doc__"):
            setattr(traced, attr, getattr(fn, attr))
        traced.__wrapped__ = fn
        return traced

    def patch(self) -> None:
        """Replace the PATCHED engine functions with span-recording
        wrappers, in their own module and wherever another engine
        module imported them by name."""
        originals: dict[int, object] = {}
        for mod_name, names in PATCHED.items():
            mod = sys.modules.get(mod_name)
            if mod is None:
                continue
            for attr, val in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(val):
                    continue
                if val.__module__ != mod_name or (names and attr not in names):
                    continue
                originals[id(val)] = self._wrap(layer_of(mod_name, attr), val)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("bigdata06_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None and wrapper.__wrapped__ is val:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def unpatch(self) -> None:
        for mod, attr, val in reversed(self._undo):
            setattr(mod, attr, val)
        self._undo.clear()


# ------------------------------------------------------------ status store


def _seq(spark, scala_seq) -> list:
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(scala_seq))


def read_jobs(spark, after_job_id: int) -> list[dict]:
    """Per-job records for every job with id > after_job_id, with the
    summed metrics of the stages each job ran (skipped stages count
    for nothing), read from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq(spark, store.jobsList(None)):
        jid = j.jobId()
        if jid <= after_job_id:
            continue
        sub = j.submissionTime()
        rec = {
            "job": jid,
            "tags": [t for t in _seq(spark, j.jobTags())],
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "input": 0,
        }
        for sid in _seq(spark, j.stageIds()):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numCompleteTasks()
            rec["run_ms"] += sd.executorRunTime()
            rec["cpu_ns"] += sd.executorCpuTime()
            rec["gc_ms"] += sd.jvmGcTime()
            rec["shuffle_read"] += sd.shuffleReadBytes()
            rec["shuffle_write"] += sd.shuffleWriteBytes()
            rec["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["input"] += sd.inputBytes()
        out.append(rec)
    return out


def last_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    ids = [j.jobId() for j in _seq(spark, store.jobsList(None))]
    return max(ids, default=-1)


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> None:
    """Set job["spans"]: the ids of every span the job ran under,
    innermost first, ancestors included."""
    by_id = {s["id"]: s for s in spans}
    main = [s for s in spans if s["thread"] == "MainThread"]
    for job in jobs:
        ids = [int(t.rsplit("-bd6s", 1)[1]) for t in job["tags"] if "-bd6s" in t]
        ids = [i for i in ids if i in by_id]
        if not ids and job["submitted"] is not None:
            t = job["submitted"]
            open_ = [s for s in main
                     if s["wall"] <= t <= s["wall"] + (s["end"] - s["start"])]
            if open_:
                ids = [max(open_, key=lambda s: s["wall"])["id"]]
        chain: list[int] = []
        for i in sorted(ids, key=lambda i: -by_id[i]["wall"]):
            while i is not None and i not in chain:
                chain.append(i)
                i = by_id[i]["parent"]
        job["spans"] = chain


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans named `name` that have no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id.get(p, {}).get("name") != name:
            p = by_id.get(p, {}).get("parent")
        if p is None:
            out.append(s)
    return out


def ancestor(by_id: dict[int, dict], span: dict, name: str) -> dict | None:
    """The nearest enclosing span named `name` (the span itself counts)."""
    while span is not None and span["name"] != name:
        span = by_id.get(span["parent"])
    return span


def dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


# ------------------------------------------------------------ streaming


def make_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated += 1

        def drain(self, timeout: float = 10.0) -> list[dict]:
            """Wait until every started query has reported termination
            (events arrive asynchronously), then take the progress log."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        break
                time.sleep(0.05)
            with self.lock:
                out, self.progress = self.progress, []
            return out

    return ProgressLog()


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    def ms(key: str) -> float:
        return float(sum(p["duration_ms"].get(key, 0) for p in progress))

    return {
        "streaming.batches": len(progress),
        "streaming.trigger_ms": ms("triggerExecution"),
        "streaming.add_batch_ms": ms("addBatch"),
        "streaming.query_planning_ms": ms("queryPlanning"),
        "streaming.wal_commit_ms": ms("walCommit"),
        "streaming.state_rows": sum(p["state_rows"] for p in progress),
        "streaming.state_commit_ms": float(sum(p["state_commit_ms"] for p in progress)),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
    }


def median_of(rows: list[dict]) -> dict[str, float]:
    """Per-key median over the traced passes."""
    keys = rows[0].keys() if rows else ()
    return {k: statistics.median(r[k] for r in rows) for k in keys}
