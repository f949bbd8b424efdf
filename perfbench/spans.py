"""Span tracer for the traced run: wraps engine functions from outside.

A span records a name, start, end, its parent, the Spark jobs it ran
and the stage metrics of those jobs. Spans live in memory and are
written out once, at the end of the run.

- Job attribution: each span runs under its own Spark job group, so
  ``statusTracker().getJobIdsForGroup`` returns exactly the jobs the
  span itself ran (a child span's jobs sit in the child's group).
- Stage metrics are read as each span closes, after the listener bus
  has drained, because the status store keeps only the last
  ``spark.ui.retainedStages`` stages.
- Bookkeeping (group switches, status-store reads) happens outside the
  span's own [start, end] interval and is recorded as ``bk_s``; the
  summariser takes it out of the parent's self time.
- ``install`` rebinds every module attribute that holds a wrapped
  function; ``restore`` puts every original back, so no wrapper
  survives into an untimed or untraced phase.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import operator
import pkgutil
import sys
import time
import types
from dataclasses import asdict, dataclass, field

# Per-span stage metrics, summed over the span's own jobs.
STAGE_FIELDS = ("stages", "tasks", "executor_s", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    bk_s: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
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


def children_of(spans: list[Span]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    return kids


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its interval, minus the part of it that
    child spans cover, minus the tracer's bookkeeping for those
    children (which falls in this span's interval but is not its work)."""
    kids = children_of(spans)
    out = []
    for i, s in enumerate(spans):
        ch = [spans[k] for k in kids.get(i, [])]
        clipped = [(max(c.start, s.start), min(c.end, s.end)) for c in ch]
        covered = _covered([iv for iv in clipped if iv[1] > iv[0]])
        out.append((s.end - s.start) - covered - sum(c.bk_s for c in ch))
    return out


def total_times(spans: list[Span]) -> list[float]:
    """Span duration without the bookkeeping of its descendants; equals
    the sum of the self times over the span's subtree."""
    kids = children_of(spans)
    bk_below = [0.0] * len(spans)
    for i in range(len(spans) - 1, -1, -1):  # children always follow their parent
        for k in kids.get(i, []):
            bk_below[i] += spans[k].bk_s + bk_below[k]
    return [s.end - s.start - b for s, b in zip(spans, bk_below)]


class _Wrapped:
    """Callable stand-in for an engine function. It pickles as the
    original, so a kernel that closes over a wrapped function still
    ships to executors without the tracer."""

    def __init__(self, tracer: "Tracer", fn, name: str):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._fn = fn
        self._name = name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


def wrapped_bindings(package: str) -> list[str]:
    """``module.attr`` of every attribute under ``package`` that still
    holds a wrapper; empty once a tracer has been restored."""
    return [
        f"{name}.{attr}"
        for name, mod in list(sys.modules.items())
        if name == package or name.startswith(package + ".")
        for attr, val in vars(mod).items()
        if isinstance(val, _Wrapped)
    ]


class Tracer:
    """Span recorder. ``spark=None`` gives a tracer with no Spark
    bookkeeping (used by tests); ``enabled=False`` gives one whose
    ``span`` does nothing, which the untraced run uses."""

    def __init__(self, spark=None, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sc = spark.sparkContext if spark is not None else None
        if self._sc is not None:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._tracker = self._sc.statusTracker()

    # -- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if self._sc is not None:
            self._sc.setJobGroup(self._group(idx), name, False)
        s = Span(name, parent, 0.0)
        self.spans.append(s)
        self._stack.append(idx)
        s.start = time.perf_counter()
        bk_enter = s.start - t0
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._close_jobs(idx, parent)
            s.bk_s = bk_enter + time.perf_counter() - s.end

    def _group(self, idx: int) -> str:
        return f"perfbench-{idx}"

    def _close_jobs(self, idx: int, parent: int | None) -> None:
        if parent is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self._group(parent), self.spans[parent].name, False)
        jobs = sorted(self._tracker.getJobIdsForGroup(self._group(idx)))
        if not jobs:
            return
        self._bus.waitUntilEmpty()
        st = self.spans[idx].stats
        seen: set[int] = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else []:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numTasks()
                st["executor_s"] += sd.executorRunTime() / 1e3
                st["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                st["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        self.spans[idx].jobs = jobs

    # -- wrapping -----------------------------------------------------

    def wrap_attr(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` with a span-recording wrapper."""
        orig = getattr(obj, attr)
        self._patches.append((obj, attr, orig))
        setattr(obj, attr, _Wrapped(self, orig, name))

    def install(self, package: str, skip: tuple[str, ...] = ()) -> int:
        """Wrap every public function defined in the modules of
        ``package`` (minus the ``skip`` suffixes), at every module
        attribute that binds it. Returns the number of rebindings."""
        pkg = importlib.import_module(package)
        wrappers: dict[int, _Wrapped] = {}
        for info in pkgutil.walk_packages(pkg.__path__, package + "."):
            short = info.name[len(package) + 1:]
            if short.endswith(skip):
                continue
            mod = importlib.import_module(info.name)
            for attr, fn in vars(mod).items():
                if (
                    isinstance(fn, types.FunctionType)
                    and not attr.startswith("_")
                    and fn.__module__ == mod.__name__
                ):
                    wrappers[id(fn)] = _Wrapped(self, fn, f"{short}.{attr}")
        # rebind wherever the function is bound, skipped modules included
        # (queries.py binds catalog.table by name)
        modules = [
            m for name, m in list(sys.modules.items())
            if name == package or name.startswith(package + ".")
        ]
        n = 0
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and w._fn is val:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, w)
                    n += 1
        return n

    def restore(self) -> None:
        """Undo every patch, newest first."""
        while self._patches:
            obj, attr, orig = self._patches.pop()
            setattr(obj, attr, orig)

    def dump(self, path: str) -> None:
        selfs, totals = self_times(self.spans), total_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [
                    dict(asdict(s), self_s=a, total_s=b)
                    for s, a, b in zip(self.spans, selfs, totals)
                ],
                f,
            )
