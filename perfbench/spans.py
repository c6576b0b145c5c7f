"""Outside-in tracing: spans around calls into each layer's public
functions, recorded by wrapping them at their import sites.

A span records its layer, name, start, end, parent span, the workload
phase it ran in and whether the call raised. While a span is open its id
is the SparkContext's job group (``spark.jobGroup.id``), so every Spark
job is attributed to the innermost open span; the Spark status store
gives each job's interval, task count and shuffle bytes. The workload
polls the store after each unit of work, before the store's retention
limit drops old jobs.

Per-layer figures count the work of one fixed unit, not of a whole run:
spans of the ``session`` and ``batch`` phases count once, and spans of
the ``round`` phase (timed loops that run for ``--seconds``) are divided
by the number of rounds, so a faster program or host does not inflate
them. Spans of the other phases (set-up, which holds the operators
warm-up sweep, and the final checks) are not counted.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "config", "ingest", "silver", "gold", "dashboard", "catalog", "queries")
GENERIC = ("self_s", "calls", "spark_jobs", "spark_tasks", "shuffle_bytes", "driver_s", "failed")


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: Span | None
    phase: str
    start: float
    end: float = 0.0
    failed: bool = False
    result: object = None
    children: list[Span] = field(default_factory=list)


def _subtract(intervals: list[tuple[float, float]], cuts: list[tuple[float, float]]):
    """``intervals`` minus the union of ``cuts`` (both lists of (a, b))."""
    out = []
    for a, b in intervals:
        pieces = [(a, b)]
        for c, d in cuts:
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                    continue
                if c > x:
                    nxt.append((x, c))
                if d < y:
                    nxt.append((d, y))
            pieces = nxt
        out.extend(pieces)
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


class Tracer:
    """Records spans; ``enabled=False`` makes every wrapper a plain call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.missing: list[str] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None
        self._jobs: dict[int, dict] = {}
        self.overhead_s = 0.0  # wall time spent in the tracer's own bookkeeping
        self.phase = "session"
        self.rounds = 0  # completed timed rounds

    def attach(self, sc) -> None:
        """Start tagging Spark jobs with the open span's id."""
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", None if span is None else f"pb{span.sid}")

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), layer, name, parent, self.phase, 0.0)
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, layer: str, name=None) -> None:
        """Replace ``owner.attr`` (module or class attribute) by a traced
        wrapper that keeps the call's return value on its span. ``name``
        is a string or a function of (args, kwargs); it defaults to
        ``attr``. A target that no longer exists is recorded as missing."""
        fn = getattr(owner, attr, None)
        label = f"{getattr(owner, '__name__', owner)}.{attr}"
        if fn is None:
            self.missing.append(label)
            return
        if not self.enabled or getattr(fn, "_perfbench_wrapped", False):
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else (name or attr)
            with self.span(layer, label) as sp:
                sp.result = fn(*args, **kwargs)
                return sp.result

        traced._perfbench_wrapped = True
        setattr(owner, attr, traced)

    def spans_of(self, layer: str, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and (name is None or s.name == name)]

    def weight(self, sp: Span) -> float:
        """Share of ``sp`` in the per-unit figures (see module doc)."""
        if sp.phase in ("session", "batch"):
            return 1.0
        if sp.phase == "round" and self.rounds:
            return 1.0 / self.rounds
        return 0.0

    def layer_metrics(self) -> dict[str, float]:
        """The generic per-layer metrics (``<layer>.<metric>``), per unit
        of work."""
        jobs = self._jobs
        by_group: dict[str, list[dict]] = {}
        for j in jobs.values():
            by_group.setdefault(j["group"], []).append(j)
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in GENERIC}
        for sp in self.spans:
            w = self.weight(sp)
            if sp.layer not in LAYERS or not w:
                continue
            own = _subtract([(sp.start, sp.end)], [(c.start, c.end) for c in sp.children])
            mine = by_group.get(f"pb{sp.sid}", [])
            busy = [(j["start"], j["end"]) for j in mine]
            p = sp.layer + "."
            out[p + "self_s"] += w * _length(own)
            out[p + "driver_s"] += w * _length(_subtract(own, busy))
            out[p + "calls"] += w
            out[p + "failed"] += w * sp.failed
            out[p + "spark_jobs"] += w * len(mine)
            out[p + "spark_tasks"] += w * sum(j["tasks"] for j in mine)
            out[p + "shuffle_bytes"] += w * sum(j["shuffle_bytes"] for j in mine)
        return out

    def jobs_under(self, spans: list[Span]) -> int:
        """Polled Spark jobs attributed to ``spans`` or any span nested in
        them."""
        groups = set()
        todo = list(spans)
        while todo:
            s = todo.pop()
            groups.add(f"pb{s.sid}")
            todo.extend(s.children)
        return sum(1 for j in self._jobs.values() if j["group"] in groups)

    def poll_jobs(self, spark) -> None:
        """Record every finished job now in the status store: group,
        interval (epoch seconds), completed tasks and shuffle bytes
        written. A no-op when tracing is off."""
        if not self.enabled:
            return
        store = spark.sparkContext._jsc.sc().statusStore()
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid in self._jobs or not j.completionTime().isDefined():
                continue
            group = j.jobGroup()
            stages = j.stageIds()
            shuffle = 0
            for k in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(k))
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                if st.status().toString() != "SKIPPED":
                    shuffle += st.shuffleWriteBytes()
            self._jobs[jid] = {
                "group": group.get() if group.isDefined() else None,
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": j.completionTime().get().getTime() / 1000.0,
                "tasks": j.numCompletedTasks(),
                "shuffle_bytes": shuffle,
            }
