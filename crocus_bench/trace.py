"""Spans around the package's public functions, and Spark counters.

Only a traced run installs anything here. ``Tracer.wrap`` replaces a
public function in every ``crocus_spark`` module that holds it, so calls
made inside the package are timed too; the package itself is never
edited. Spans stay in memory (name, layer, start, end, parent, op) and
are written as JSON when the run ends. ``self_times`` gives each span's
self time: its duration minus the time its children cover, with
overlapping children merged first.

``SparkCounters`` reads jobs, stages and SQL execution metrics from
Spark's status stores over py4j, which works with the UI disabled. An
operation's jobs are the ones submitted since the previous read; each
operation also tags its jobs with ``setJobGroup(op)``.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.enabled = False
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` wherever ``crocus_spark`` holds it."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, layer):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("crocus_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, orig))

    def unwrap_all(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            self.idx = None
            return self
        self.idx = len(t.spans)
        t.spans.append({
            "name": self.name, "layer": self.layer, "start": time.time(),
            "end": None, "parent": t.stack[-1] if t.stack else None,
            "op": t.op,
        })
        # one global stack, not per thread: foreachBatch bodies run on a
        # py4j callback thread while the caller blocks inside the drain
        t.stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is None:
            return False
        t = self.tracer
        t.spans[self.idx]["end"] = time.time()
        if t.stack and t.stack[-1] == self.idx:
            t.stack.pop()
        elif self.idx in t.stack:
            t.stack.remove(self.idx)
        return False


def merged_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the merged cover of its children,
    each child clipped to the parent's interval."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        if s["end"] is None:
            out.append(0.0)
            continue
        clipped = [(max(a, s["start"]), min(b, s["end"]))
                   for a, b in kids.get(i, []) if b > s["start"]
                   and a < s["end"]]
        out.append(max(0.0, (s["end"] - s["start"]) - merged_length(clipped)))
    return out


def intervals_of(spans: list[dict], names: set[str]):
    return [(s["start"], s["end"]) for s in spans
            if s["name"] in names and s["end"] is not None]


def within(t: float, intervals) -> bool:
    return any(a <= t <= b for a, b in intervals)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9, "us": 1e-6}


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the status store renders it -> a number (bytes,
    seconds or a count). Aggregated metrics look like
    ``'total (min, med, max ...)\\n81.3 KiB (...)'``: take the total."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "", 1.0)


class SparkCounters:
    """Per-operation engine counters from the status stores."""

    STAGE_FIELDS = ("jobs", "stages", "tasks", "executor_run_s",
                    "executor_cpu_s", "input_bytes", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "failed_tasks")
    SQL_METRICS = {
        "time to run Python workers": "python_worker_run_s",
        "data sent to Python workers": "bytes_to_python",
        "data returned from Python workers": "bytes_from_python",
        "number of files read": "files_read",
        "number of partitions read": "partitions_read",
    }

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = spark._jvm
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._gateway.new_array(self.jvm.double, 0)
        self.seen_job = -1
        self.seen_exec = -1
        self.mark()

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget everything submitted so far."""
        self._drain()
        for j in self._jobs():
            self.seen_job = max(self.seen_job, j.jobId())
        for e in self._execs():
            self.seen_exec = max(self.seen_exec, e.executionId())

    def _jobs(self):
        it = self.store.jobsList(self.jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def _execs(self):
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    def collect(self) -> dict:
        """Counters of every job and SQL execution since the last call,
        plus ``job_times`` (submission epoch seconds per job) and
        ``exec_metrics`` (per execution: start epoch seconds and the
        parsed SQL metrics) for attribution to spans."""
        self._drain()
        out = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        out.update(dict.fromkeys(self.SQL_METRICS.values(), 0.0))
        job_times, stage_ids = [], set()
        newest = self.seen_job
        for j in self._jobs():
            if j.jobId() <= self.seen_job:
                continue
            newest = max(newest, j.jobId())
            out["jobs"] += 1
            sub = j.submissionTime()
            job_times.append(sub.get().getTime() / 1000.0
                             if sub.isDefined() else time.time())
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        self.seen_job = newest
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self.jvm.java.util.ArrayList(), False, self._empty)
            it = attempts.iterator()
            while it.hasNext():
                s = it.next()
                if s.numCompleteTasks() + s.numFailedTasks() == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["input_bytes"] += s.inputBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += (s.memoryBytesSpilled()
                                       + s.diskBytesSpilled())
        execs = []
        newest = self.seen_exec
        for e in self._execs():
            eid = e.executionId()
            if eid <= self.seen_exec:
                continue
            newest = max(newest, eid)
            values = self.sql.executionMetrics(eid)
            per: dict[int, tuple[str, float]] = {}
            it = e.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                key = self.SQL_METRICS.get(pm.name())
                if key is None:
                    continue
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    per[pm.accumulatorId()] = (key, parse_sql_metric(v.get()))
            m = dict.fromkeys(self.SQL_METRICS.values(), 0.0)
            for key, val in per.values():
                m[key] += val
            for key, val in m.items():
                out[key] += val
            execs.append({"start": e.submissionTime() / 1000.0, **m})
        self.seen_exec = newest
        out["job_times"] = job_times
        out["exec_metrics"] = execs
        return out

    def storage_bytes(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return float(sum(infos[i].memSize() + infos[i].diskSize()
                         for i in range(len(infos))))
