"""Span recorder and Spark status-store counter reader for the traced run.

Every layer call the benchmark makes is wrapped in a span. The span's id is
set as the Spark job group for the calling thread, so every job the call
starts carries it; when the span closes, the job and stage counters of that
group are read from the Spark driver's status store (this works with the UI
disabled). Counters are read per span, right after it ends, because the
store only retains the most recent 1000 jobs and stages by default.

Spans and their counters stay in memory; ``Tracer.dump`` writes them out
once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_STAGE_FIELDS = ("numTasks", "executorRunTime", "jvmGcTime", "inputBytes", "inputRecords",
                 "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0  # executor run time summed over tasks
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # memory + disk spill

    def add(self, other: "Counters") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    op_id: str | None = None  # batch or run id the span belongs to
    counters: Counters = field(default_factory=Counters)
    notes: dict = field(default_factory=dict)  # values the layer call returned

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StatusStore:
    """Reads job and stage counters of one job group from the Spark driver's
    status store through the py4j gateway."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm

    def drain(self) -> None:
        # job/stage end events reach the status store through the listener
        # bus asynchronously; wait until it has processed everything posted
        self._jsc.listenerBus().waitUntilEmpty()

    def group_counters(self, group: str) -> Counters:
        store = self._jsc.statusStore()
        jobs = store.jobsList(self._jvm.java.util.ArrayList())
        c = Counters()
        for i in range(jobs.length()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if g.isEmpty() or g.get() != group:
                continue
            c.jobs += 1
            ids = job.stageIds()
            for k in range(ids.length()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:  # py4j error: stage skipped, never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                v = {f: int(getattr(st, f)()) for f in _STAGE_FIELDS}
                c.stages += 1
                c.tasks += v["numTasks"]
                c.run_ms += v["executorRunTime"]
                c.gc_ms += v["jvmGcTime"]
                c.input_bytes += v["inputBytes"]
                c.input_records += v["inputRecords"]
                c.output_bytes += v["outputBytes"]
                c.shuffle_bytes += v["shuffleWriteBytes"]
                c.spill_bytes += v["memoryBytesSpilled"] + v["diskBytesSpilled"]
        return c


class Tracer:
    """Records spans around layer calls. Untraced operations get no tracer,
    so tracing costs them nothing."""

    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._store = StatusStore(spark)
        self.bookkeeping_s = 0.0  # time spent reading counters, outside spans

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(span_id=f"s{len(self.spans):05d}-{name}", name=name,
                 start=time.perf_counter(),
                 parent=parent.span_id if parent else None,
                 op_id=op_id or (parent.op_id if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._store.drain()
            s.counters.add(self._store.group_counters(s.span_id))
            self.bookkeeping_s += time.perf_counter() - s.end
            if parent is not None:
                parent.counters.add(s.counters)
                self._sc.setJobGroup(parent.span_id, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["seconds"] = s.seconds
                fh.write(json.dumps(row) + "\n")
