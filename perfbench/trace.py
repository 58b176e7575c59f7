"""Out-of-engine tracing: spans around calls into the engine's public
functions, Spark job counts per job group, and process-tree CPU/RSS.

Spans live in memory and are written once, when the run ends. A wrap
target that does not exist (renamed or removed) is recorded as an
unmeasured layer instead of failing the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Collects spans ``{name, start, end, parent, group}`` (times from
    ``time.perf_counter``). ``parent`` is the index of the enclosing span
    or None for a top-level span."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.unmeasured: set[str] = set()
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._group: str | None = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "group": self._group})
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def top_level(self, start: float, end: float) -> list[dict]:
        """Finished top-level spans that start inside [start, end)."""
        return [s for s in self.spans if s["parent"] is None
                and s["end"] is not None and start <= s["start"] < end]

    # -- wrapping ----------------------------------------------------------
    def wrap(self, module: str, attr: str, layer, after=None) -> bool:
        """Replace ``module.attr`` (``attr`` may be ``Class.method``) with a
        spanning wrapper. ``layer`` is a span name or a function of the
        call's arguments returning one; ``after(result, args, kwargs)`` runs
        once the span has closed. Returns False, and records the layer as
        unmeasured, when the target does not exist."""
        label = layer if isinstance(layer, str) else f"{module}.{attr}"
        try:
            owner = importlib.import_module(module)
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            real = getattr(owner, name)
        except (ImportError, AttributeError):
            self.unmeasured.add(label)
            return False
        tracer = self

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            span_name = layer if isinstance(layer, str) else layer(args, kwargs)
            with tracer.span(span_name):
                out = real(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        self._patches.append((owner, name, real))
        setattr(owner, name, wrapper)
        return True

    def restore(self) -> None:
        for owner, name, real in reversed(self._patches):
            setattr(owner, name, real)
        self._patches.clear()

    # -- Spark job groups ----------------------------------------------------
    def set_group(self, group: str | None) -> None:
        """Tag the jobs this thread submits from now on with ``group``."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)
        self._group = group

    @contextmanager
    def group(self, group: str):
        prev = self._group
        self.set_group(group)
        try:
            yield
        finally:
            self.set_group(prev)

    def job_ids(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker()
                    .getJobIdsForGroup(group))

    def shuffle_write_bytes(self, group: str) -> int | None:
        """Shuffle bytes written by the stages of ``group``'s jobs, read
        from the driver's status store; None when it cannot be read."""
        tracker = self.spark.sparkContext.statusTracker()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        total = 0
        try:
            for jid in self.job_ids(group):
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    total += int(store.lastStageAttempt(sid)
                                 .shuffleWriteBytes())
        except Exception:  # noqa: BLE001 - py4j surface differs by version
            return None
        return total

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "unmeasured": sorted(self.unmeasured), **extra}, f)


# -- process tree --------------------------------------------------------------
def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        st = _stat_fields(int(e))
        if st:
            kids.setdefault(int(st[1]), []).append(int(e))
    return kids


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU seconds, Python-worker CPU seconds) so far. Python workers
    are every process below the JVM; time of reaped workers is counted
    through their parents' cutime/cstime."""
    st = _stat_fields(jvm_pid)
    if st is None:
        return 0.0, 0.0
    # stat fields (0-based after the name): 11 utime, 12 stime, 13 cutime,
    # 14 cstime
    jvm = (int(st[11]) + int(st[12])) / _CLK
    py = (int(st[13]) + int(st[14])) / _CLK
    for pid in _descendants(jvm_pid):
        s = _stat_fields(pid)
        if s:
            py += sum(int(s[i]) for i in (11, 12, 13, 14)) / _CLK
    return jvm, py


def tree_peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of the JVM and every
    process below it."""
    total_kb = 0
    for pid in [jvm_pid] + _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
