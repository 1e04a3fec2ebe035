"""Measurement hooks that live in the benchmark, not in the program:
spans around calls into each layer's public functions, a streaming
progress listener, and reads of the Spark status store and JVM beans.

Spans are kept in memory (name, start, end, parent) and turned into
metrics once, when the run ends."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import resource
import threading
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

import stats


class Tracer:
    """Spans around calls. The open-span stack is shared by all threads:
    a ``foreachBatch`` callback runs on another thread while the caller
    waits inside the span that started the query, so that span is the
    callback's parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": self._open[-1] if self._open else None,
                   "start": time.time(), "end": None}
            self.spans.append(rec)
            self._open.append(rec["id"])
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._open.remove(rec["id"])

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned call, so calls the
        program makes through the module attribute are spanned too."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


def _epoch_s(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def offset_seq(offset_json: str | None) -> int:
    """Feed position of a source offset ``{"lastEventId": "<seq>::<uuid>"}``;
    -1 before the first event."""
    if not offset_json:
        return -1
    last = json.loads(offset_json).get("lastEventId")
    return int(last.split("::")[0]) if last else -1


class Progress(StreamingQueryListener):
    """Every micro-batch of every query: its end position, commit time and
    phase durations. The commit time is the trigger start plus the
    trigger's execution time, both as Spark reports them."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []
        self.started: dict[str, float] = {}   # run id -> start time
        self.terminated: dict[str, float] = {}

    def onQueryStarted(self, event):
        with self.lock:
            self.started[str(event.runId)] = _epoch_s(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        start = _epoch_s(p.timestamp)
        rec = {
            "query": str(p.id), "run": str(p.runId), "batch": p.batchId,
            "rows": p.numInputRows, "start": start,
            "commit": start + d.get("triggerExecution", 0) / 1000.0,
            "end_seq": offset_seq(p.sources[0].endOffset) if p.sources else -1,
            "durations": d,
        }
        with self.lock:
            self.batches.append(rec)

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated[str(event.runId)] = time.time()

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.batches)

    def reach(self, query: str | None = None) -> int:
        """Highest feed position landed, by one query or by any."""
        with self.lock:
            return max((b["end_seq"] for b in self.batches
                        if query is None or b["query"] == query), default=-1)

    def wait_reach(self, seq: int, timeout_s: float) -> bool:
        """Wait until some query has landed feed position ``seq``."""
        deadline = time.monotonic() + timeout_s
        while self.reach() < seq:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.02)
        return True


def _seq_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_jobs(spark) -> list[dict]:
    """Finished jobs from the status store: interval (epoch seconds) and
    stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq_list(store.jobsList(None)):
        sub, comp = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or comp.isEmpty():
            continue
        out.append({"start": sub.get().getTime() / 1000.0,
                    "end": comp.get().getTime() / 1000.0,
                    "stages": [int(s) for s in _seq_list(j.stageIds())]})
    return out


def spark_stages(spark) -> dict[int, dict]:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = {}
    for s in _seq_list(store.stageList(None, False, False, no_quantiles, None)):
        out[int(s.stageId())] = {
            "exec_s": s.executorRunTime() / 1000.0,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    return out


def jvm_memory(spark) -> tuple[float, float]:
    """(total GC seconds, peak heap MB) of the driver JVM, which in local
    mode hosts every executor thread."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().name() == "HEAP")
    return gc_ms / 1000.0, heap / 2**20


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(spark, feed_maxrss_kb: int) -> dict[str, float]:
    """Peak RSS in MB of the driver JVM, its Python workers, this process
    and the feed process."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    kb = {
        "jvm": _vm_hwm_kb(jvm),
        "workers": sum(_vm_hwm_kb(p) for p in _descendants(jvm)),
        "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
        "feed": feed_maxrss_kb,
    }
    return {k: v / 1024.0 for k, v in kb.items()}


def span_metrics(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
                 names: list[str]) -> dict[str, float]:
    """Per span name: wall (``_s``), self time (``.self_s``), Spark jobs
    and driver gap, each summed over the name's spans. A span's jobs are
    those attributed to it or to a span inside it; its driver gap is its
    wall minus the union of those jobs' intervals."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    selfs = stats.self_times(spans)
    by_span = stats.attribute_jobs(spans, [(j["start"], j["end"]) for j in jobs])
    out: dict[str, float] = {}
    for name in names:
        wall = self_s = gap = exec_s = shuffle = spill = 0.0
        n_jobs = 0
        for s in spans:
            if s["name"] != name:
                continue
            own = [j for i in stats.subtree(spans, s["id"]) for j in by_span.get(i, [])]
            wall += s["end"] - s["start"]
            self_s += selfs[s["id"]]
            n_jobs += len(own)
            gap += (s["end"] - s["start"]) - stats.union_length(
                [(jobs[j]["start"], jobs[j]["end"]) for j in own], s["start"], s["end"])
            for j in own:
                for st in jobs[j]["stages"]:
                    m = stages.get(st)
                    if m:
                        exec_s += m["exec_s"]
                        shuffle += m["shuffle_bytes"]
                        spill += m["spill_bytes"]
        out[f"{name}_s"] = wall
        out[f"{name}.self_s"] = self_s
        out[f"{name}.jobs"] = n_jobs
        out[f"{name}.driver_gap_s"] = gap
        out[f"{name}.exec_s"] = exec_s
        out[f"{name}.shuffle_bytes"] = shuffle
        out[f"{name}.spill_bytes"] = spill
    return out
