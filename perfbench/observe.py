"""Measurement plumbing: a batch listener, a status-store reader and
in-memory spans.

Everything here observes the program from outside: Spark's own
streaming progress events and the application status store (which
keeps per-stage run time, CPU, GC, shuffle and spill even with the UI
off). Nothing is patched into the program.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class BatchListener(StreamingQueryListener):
    """Collects the progress of every micro-batch that read data and
    lets the caller wait for the n-th one."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        if p.get("numInputRows", 0) > 0:
            with self.cond:
                self.progress.append(p)
                self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            self.cond.notify_all()

    def wait_for(self, n: int, query, timeout: float) -> bool:
        """Wait until ``n`` data batches have reported progress."""
        deadline = time.monotonic() + timeout
        with self.cond:
            while len(self.progress) < n:
                if query.exception() is not None or not query.isActive:
                    return False
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self.cond.wait(min(left, 0.5))
        return True


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class Counters:
    """Job/stage/task totals over a window of the status store."""

    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    def __add__(self, other: "Counters") -> "Counters":
        return Counters(self.jobs + other.jobs, self.stages + other.stages)

    def total(self, key: str) -> float:
        return float(sum(s[key] for s in self.stages))

    @property
    def tasks(self) -> int:
        return int(self.total("tasks"))

    def job_seconds(self) -> float:
        return sum(j["end"] - j["start"] for j in self.jobs if j["end"] is not None)

    def covered_seconds(self) -> float:
        """Wall time during which at least one job ran."""
        spans = sorted((j["start"], j["end"]) for j in self.jobs if j["end"] is not None)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


class StatusStore:
    """Reads jobs and stages the application ran since the last read.

    Job ids are sequential, so each read walks forward from the last
    seen id; the store retains a bounded number of jobs, so callers
    read after every batch or query."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.next_job = 0
        self.seen_stages: set[int] = set()
        self.drain()
        while self._job(self.next_job) is not None:
            self.next_job += 1

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _job(self, jid: int):
        """The job's data, or None when the store has no such job yet."""
        try:
            return self.store.job(jid)
        except Py4JJavaError:  # NoSuchElementException
            return None

    def read(self) -> Counters:
        self.drain()
        out = Counters()
        while (jd := self._job(self.next_job)) is not None:
            if str(jd.status()) == "RUNNING":
                break
            self.next_job += 1
            out.jobs.append(
                {
                    "id": jd.jobId(),
                    "name": jd.name(),
                    "start": _opt_ms(jd.submissionTime()),
                    "end": _opt_ms(jd.completionTime()),
                }
            )
            ids = [int(x) for x in jd.stageIds().mkString(",").split(",") if x]
            for sid in ids:
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                out.stages.append(
                    {
                        "id": sid,
                        "tasks": st.numTasks(),
                        "wall_s": (end - start) if start and end else 0.0,
                        "run_s": st.executorRunTime() / 1000.0,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1000.0,
                        "shuffle_read": st.shuffleReadBytes(),
                        "shuffle_write": st.shuffleWriteBytes(),
                        "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    }
                )
        return out


def session_metrics(c: Counters, wall_s: float, cores: int) -> dict[str, float]:
    return {
        "session.jobs": len(c.jobs),
        "session.stages": len(c.stages),
        "session.tasks": c.tasks,
        "session.one_task_stage_s": sum(s["wall_s"] for s in c.stages if s["tasks"] == 1),
        "session.shuffle_read_bytes": c.total("shuffle_read"),
        "session.shuffle_write_bytes": c.total("shuffle_write"),
        "session.spill_bytes": c.total("spill"),
        "session.gc_s": c.total("gc_s"),
        "session.executor_cpu_s": c.total("cpu_s"),
        "session.busy_frac": c.total("run_s") / (wall_s * cores) if wall_s > 0 else 0.0,
    }


class Spans:
    """In-memory spans (name, parent, start, end); dumped at exit."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """``with spans.span(name) as s:`` — ``s["end"] - s["start"]``
        is the span's duration once the block has left."""
        item = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self.items.append(item)
        self._stack.append(len(self.items) - 1)
        item["start"] = time.perf_counter()
        try:
            yield item
        finally:
            item["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self) -> list[dict]:
        """Spans with duration and self time (duration minus the part
        covered by child spans; children never overlap here)."""
        child = [0.0] * len(self.items)
        for s in self.items:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        t0 = self.items[0]["start"] if self.items else 0.0
        out = []
        for i, s in enumerate(self.items):
            dur = s["end"] - s["start"]
            out.append(
                {
                    "id": i,
                    "name": s["name"],
                    "parent": s["parent"],
                    "start_s": s["start"] - t0,
                    "dur_s": dur,
                    "self_s": dur - child[i],
                }
            )
        return out
