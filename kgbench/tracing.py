"""Spans around calls into ``kgspark`` modules, with Spark counters attached.

A span records a layer name, its start and end, and its parent. Each span
owns a Spark job group while it is open, so every job submitted under it
(including AQE and broadcast jobs, which inherit the submitting thread's
properties) is attributed to it. After the traced pass the status stores
are read once through py4j:

- ``SparkContext.statusStore``: per job its stages, per stage executor run
  and CPU time, GC time, shuffle read/write bytes, spill and peak execution
  memory;
- ``SharedState.statusStore``: per SQL execution its plan graph and the
  values of its node metrics (Python-worker time of ``ArrowEvalPython`` /
  ``MapInPandas`` nodes, broadcast sizes, row counts). The store keeps them
  formatted for display ("12.9 s", "1,024"), so they carry three to four
  significant digits.

Spans are wrapped around module functions from the benchmark's side only
(``Tracer.patch``); the program itself is not changed.
"""

from __future__ import annotations

import contextlib
import functools
import time

PY_TIME = "time to run Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jspark = spark._jsparkSession
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        rec = {"id": f"kgbench-span-{len(self.spans)}", "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], layer)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def patch(self, owner, attr: str, layer) -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span. ``layer``
        is a name or a function of the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name = layer(*args, **kwargs) if callable(layer) else layer
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- status stores -----------------------------------------------------
    def collect(self) -> None:
        """Attach to every span its jobs, stage counters and plan metrics."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=[], stages={}, nodes=[])
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_span: dict[int, dict] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            span = by_id.get(group.get()) if group.isDefined() else None
            if span is None:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            job = {
                "id": j.jobId(), "name": str(j.name()), "stages": [],
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
            }
            span["jobs"].append(job)
            job_span[j.jobId()] = span
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in span["stages"]:
                    job["stages"].append(sid)
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never attempted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                span["stages"][sid] = {
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_b": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                    "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "peak_exec_b": sd.peakExecutionMemory(),
                }
                job["stages"].append(sid)
        sql = self.jspark.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            owners = [job_span[j] for j in (it.next() for _ in range(e.jobs().size()))
                      if j in job_span]
            if not owners:
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                vals = {}
                for q in range(ms.size()):
                    m = ms.apply(q)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        vals[str(m.name())] = parse_metric(str(v.get()))
                if vals:
                    owners[0]["nodes"].append({"name": str(node.name()), "metrics": vals})


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def parse_metric(text: str) -> float:
    """A displayed SQL metric in base units (bytes, seconds, count). Summed
    metrics read "total (min, med, max (...))\n<total> (<min>, ...)"."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the time covered by its direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out
