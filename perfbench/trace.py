"""Benchmark-side tracing: spans around engine calls plus Spark job and
stage records from a listener the benchmark registers itself.

Spans hold name, start, end, parent and the repetition they belong to;
they stay in memory and are written out once, with self time (duration
minus the time covered by child spans, Spark jobs included), when the run
ends. With tracing off every call here is a no-op, so the untraced runs
that produce end-to-end metrics carry no listener and no span bookkeeping.

Stage counters (tasks, task ms, input / shuffle / output bytes, spill) are
summed from task-end events at the same boundaries, so per-layer ratios
are measured where the work happens.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# a stage this short cannot hold back a step noticeably; without the floor
# the single-task final stage of every collect would count as starved
STARVED_MIN_WALL_MS = 250


def _opt_ms(opt) -> int | None:
    """Scala Option[Long] -> int, or None."""
    return int(opt.get()) if opt is not None and opt.isDefined() else None


class _Listener:
    """Records job spans and per-task stage counters (py4j callback)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}

    def onJobStart(self, event):  # noqa: N802 (Java interface name)
        ids = event.stageIds()
        props = event.properties()
        group = props.getProperty("spark.jobGroup.id") if props is not None else None
        with self.lock:
            self.jobs[event.jobId()] = {
                "job_id": event.jobId(),
                "start_ms": int(event.time()),
                "end_ms": None,
                "stage_ids": [ids.apply(i) for i in range(ids.size())],
                "group": group,
            }

    def onJobEnd(self, event):  # noqa: N802
        with self.lock:
            job = self.jobs.get(event.jobId())
            if job is not None:
                job["end_ms"] = int(event.time())

    def onTaskEnd(self, event):  # noqa: N802
        info, m = event.taskInfo(), event.taskMetrics()
        if m is None or not info.successful():
            return
        inp, sr, sw, out = (
            m.inputMetrics(),
            m.shuffleReadMetrics(),
            m.shuffleWriteMetrics(),
            m.outputMetrics(),
        )
        records = inp.recordsRead() + sr.recordsRead()
        moved = (
            records
            + inp.bytesRead()
            + sr.totalBytesRead()
            + sw.recordsWritten()
            + out.recordsWritten()
        )
        key = (event.stageId(), event.stageAttemptId())
        with self.lock:
            st = self.stages.setdefault(
                key,
                {
                    "task_ms": [],
                    "nonempty": 0,
                    "input_bytes": 0,
                    "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0,
                    "output_bytes": 0,
                    "spill_bytes": 0,
                    "records_in": 0,
                    "first_ms": None,
                    "last_ms": None,
                },
            )
            st["task_ms"].append(int(info.duration()))
            st["nonempty"] += moved > 0
            st["input_bytes"] += inp.bytesRead()
            st["shuffle_read_bytes"] += sr.totalBytesRead()
            st["shuffle_write_bytes"] += sw.bytesWritten()
            st["output_bytes"] += out.bytesWritten()
            st["spill_bytes"] += m.diskBytesSpilled()
            st["records_in"] += records
            launch, finish = int(info.launchTime()), int(info.finishTime())
            st["first_ms"] = launch if st["first_ms"] is None else min(st["first_ms"], launch)
            st["last_ms"] = finish if st["last_ms"] is None else max(st["last_ms"], finish)

    def onStageCompleted(self, event):  # noqa: N802
        si = event.stageInfo()
        key = (si.stageId(), si.attemptNumber())
        with self.lock:
            st = self.stages.get(key)
            if st is not None:
                st["submitted_ms"] = _opt_ms(si.submissionTime())
                st["completed_ms"] = _opt_ms(si.completionTime())
                st["name"] = si.name()

    # removeSparkListener finds the listener through equals(); the default
    # no-op below would answer None and leave it registered
    def equals(self, other):
        return other is self

    def hashCode(self):  # noqa: N802
        return id(self) & 0x7FFFFFFF

    def toString(self):  # noqa: N802
        return "perfbench-trace-listener"

    def __getattr__(self, name):  # every other listener event: no-op
        def _noop(*args, **kwargs):
            return None

        return _noop

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]


def stage_wall_ms(st: dict) -> int:
    start = st.get("submitted_ms") or st["first_ms"]
    end = st.get("completed_ms") or st["last_ms"]
    return max(end - start, 1)


def is_starved(st: dict, cores: int) -> bool:
    """ROADMAP item 1's rule: max task >= 5x the median task and >= 50% of
    the stage wall, or fewer non-empty tasks (tasks that read or wrote
    anything) than cores. Stages shorter than STARVED_MIN_WALL_MS are
    left out."""
    wall = stage_wall_ms(st)
    if wall < STARVED_MIN_WALL_MS or not st["task_ms"]:
        return False
    mx, med = max(st["task_ms"]), statistics.median(st["task_ms"])
    return (mx >= 5 * med and mx >= 0.5 * wall) or st["nonempty"] < cores


class Tracer:
    """Span recorder; inert unless enabled."""

    def __init__(self, enabled: bool, cores: int) -> None:
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rep: int | None = None
        self._listener: _Listener | None = None
        self._proxy = None
        self._sc = None

    def attach(self, spark) -> None:
        """Register the listener (tracing on only); records accumulate
        across attach/detach cycles."""
        if not self.enabled:
            return
        if self._listener is None:
            from pyspark.java_gateway import ensure_callback_server_started

            self._sc = spark.sparkContext
            ensure_callback_server_started(self._sc._gateway)
            self._listener = _Listener()
            # py4j wraps a Python object in a new Java proxy on every call;
            # hold one proxy so that remove finds what add registered
            holder = self._sc._jvm.java.util.ArrayList()
            holder.add(self._listener)
            self._proxy = holder.get(0)
        self._sc._jsc.sc().addSparkListener(self._proxy)

    def detach(self) -> None:
        if self._listener is not None:
            self.drain()
            self._sc._jsc.sc().removeSparkListener(self._proxy)

    def drain(self) -> None:
        if self._listener is not None:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    @contextmanager
    def span(self, name: str):
        """Record one span; yields the span dict (None when off)."""
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "rep": self.rep,
            "start_ms": time.time() * 1000,
            "end_ms": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end_ms"] = time.time() * 1000

    # -- queries over the records (call after drain) ----------------------

    def jobs_in(self, sp: dict) -> list[dict]:
        """Spark jobs that started inside span sp."""
        with self._listener.lock:
            return [
                j
                for j in self._listener.jobs.values()
                if sp["start_ms"] - 1 <= j["start_ms"] <= sp["end_ms"] + 1
            ]

    def stages_in(self, sp: dict) -> list[dict]:
        """Stage records of the jobs that started inside span sp."""
        ids = {s for j in self.jobs_in(sp) for s in j["stage_ids"]}
        with self._listener.lock:
            return [st for (sid, _), st in self._listener.stages.items() if sid in ids]

    def stage_totals(self, sp: dict) -> dict:
        stages = self.stages_in(sp)
        task_ms = [t for st in stages for t in st["task_ms"]]
        tot = {
            k: sum(st[k] for st in stages)
            for k in ("input_bytes", "shuffle_write_bytes", "output_bytes", "spill_bytes")
        }
        wall_s = (sp["end_ms"] - sp["start_ms"]) / 1000
        tot.update(
            jobs=len(self.jobs_in(sp)),
            tasks=len(task_ms),
            task_ms_p50=statistics.median(task_ms) if task_ms else 0.0,
            task_ms_max=max(task_ms) if task_ms else 0,
            core_busy_ratio=sum(task_ms) / 1000 / (wall_s * self.cores) if wall_s else 0.0,
            starved_stages=sum(is_starved(st, self.cores) for st in stages),
        )
        return tot

    def dump(self, path: Path) -> None:
        """Write spans (with self time and their Spark jobs) and the stage
        records as JSON. A span's children are its child spans, or for a
        leaf span the Spark jobs that started inside it."""
        self.drain()
        out = []
        for sp in self.spans:
            kids = [c for c in self.spans if c["parent"] == sp["id"]]
            jobs = [] if kids else self.jobs_in(sp)
            cover = [(c["start_ms"], c["end_ms"]) for c in kids] or [
                (j["start_ms"], j["end_ms"] or j["start_ms"]) for j in jobs
            ]
            covered, last = 0.0, sp["start_ms"]
            for a, b in sorted(cover):
                a, b = max(a, last), min(b, sp["end_ms"])
                if b > a:
                    covered += b - a
                    last = b
            dur = sp["end_ms"] - sp["start_ms"]
            out.append({**sp, "self_ms": dur - covered, "jobs": jobs})
        with self._listener.lock:
            stages = [
                {"stage_id": sid, "attempt": att, **st}
                for (sid, att), st in self._listener.stages.items()
            ]
        for st in stages:
            st["starved"] = is_starved(st, self.cores)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": out, "stages": stages}, indent=1))
