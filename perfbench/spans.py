"""Spans and counters recorded by the benchmark around calls into the program.

Spans stay in memory and are written out when the run ends. A span has a
name, start, end, parent span and request id; a layer's self time is its
duration minus the part of it covered by child spans. Spark work is
counted per request through job groups (``statusTracker``) and from the
final adaptive plan, which holds only the exchanges that actually ran.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter() - self._t0,
            end=float("nan"),
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter() - self._t0
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(sp.id, []), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def self_time_by_name(self) -> dict[str, list[float]]:
        st = self.self_times()
        out: dict[str, list[float]] = {}
        for sp in self.spans:
            out.setdefault(sp.name, []).append(st[sp.id])
        return out

    def write(self, path: Path, extra: dict) -> None:
        st = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [dict(asdict(sp), self=st[sp.id]) for sp in self.spans]
        path.write_text(json.dumps({"spans": spans, **extra}, indent=1))


@contextmanager
def job_group(spark: SparkSession, group: str | None):
    """Run the enclosed Spark actions under job group ``group`` (None: as is)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def wait_for_listeners(spark: SparkSession) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status tracker holds the final job and stage records."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_counts(spark: SparkSession, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) for job group ``group``. Stages that
    Spark skipped because their shuffle output was reused are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages.add(s)
                tasks += si.numCompletedTasks
    return len(jobs), len(stages), tasks


_EXCHANGE = re.compile(r"^[\s:+\-|*]*(Exchange|BroadcastExchange)\b", re.M)


def executed_plan(df: DataFrame):
    """Plan ``df`` now (physical planning included) and return the plan."""
    return df._jdf.queryExecution().executedPlan()


def exchange_count(df: DataFrame) -> int:
    """Shuffle and broadcast exchanges in ``df``'s final adaptive plan
    (call it after the action). Reused exchanges and stages AQE removed
    are not counted; the initial plan printed below the final one is
    skipped."""
    final = executed_plan(df).toString().split("== Initial Plan ==")[0]
    return len(_EXCHANGE.findall(final))
