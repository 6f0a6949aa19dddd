"""Spans around the calls into each layer, recorded from outside the
engine: the traced run replaces public methods and module functions
with timing wrappers, tags Spark work with a job group, and reads the
in-process status store (the pattern of ``tools/profile_stages.py``)
once the measured phase is over. Untraced runs install nothing."""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, bool]] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time one call. ``group`` tags the Spark jobs it starts (in
        this thread) so their stages can be attributed afterwards."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "attrs": attrs,
        }
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_GROUP_KEY) if group else None
        if group:
            sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                sc.setLocalProperty(_GROUP_KEY, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, group=None, around=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``group`` is a
        job-group name or a function of the call's arguments;
        ``around(rec, args)`` may return a callback run after the call
        with the span record."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        own = attr in getattr(owner, "__dict__", {})

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            g = group(*args, **kwargs) if callable(group) else group
            with self.span(name, group=g) as rec:
                done = around(rec, args) if around else None
                out = orig(*args, **kwargs)
                if done:
                    done(rec)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, own))

    def restore(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- reading spans -------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.named(name)]

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s)
        return out

    # -- Spark status store ---------------------------------------------
    def spark_by_group(self) -> dict[str, dict[str, float]]:
        """Jobs, completed tasks, executor CPU ms and shuffle bytes
        (read + written) per job group, over every retained job."""
        if not self.enabled:
            return {}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — not exposed: let it drain
            time.sleep(1.0)
        store = jsc.statusStore()
        jvm = sc._jvm  # noqa: SLF001
        stages: dict[int, dict[str, float]] = defaultdict(
            lambda: {"tasks": 0, "cpu_ms": 0.0, "shuffle_bytes": 0}
        )
        it = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0),  # noqa: SLF001
            jvm.java.util.ArrayList(),
        ).iterator()
        while it.hasNext():
            s = it.next()
            st = stages[s.stageId()]
            st["tasks"] += s.numCompleteTasks()
            st["cpu_ms"] += s.executorCpuTime() / 1e6
            st["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"jobs": 0, "tasks": 0, "cpu_ms": 0.0, "shuffle_bytes": 0}
        )
        it = store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if not g.isDefined():
                continue
            tot = out[g.get()]
            tot["jobs"] += 1
            ids = j.stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                for k, v in stages.get(sid, {}).items():
                    tot[k] += v
        return dict(out)
