"""Span tracer installed around the package's public functions.

The package is not edited: :meth:`Tracer.install` replaces each named
function or method with a wrapper that records a span, and also rebinds
every ``from ... import`` site inside the package that holds the original
object (``dry_run`` is bound by name in ``engine.chain`` and
``engine.codegen``, for example). :meth:`Tracer.uninstall` restores all of
them.

A span is ``(op_id, span_id, parent_id, name, start, end, attrs)``. Spans
are kept in memory and written out once, at the end of the run. Self time
is a span's duration minus the part of it covered by its child spans.
"""

from __future__ import annotations

import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager
from typing import Any, Callable

PACKAGE = "autonomus_datapipeline_spark"


class Span:
    __slots__ = ("op_id", "span_id", "parent_id", "name", "start", "end", "attrs")

    def __init__(self, op_id, span_id, parent_id, name, start):
        self.op_id = op_id
        self.span_id = span_id
        self.parent_id = parent_id
        self.name = name
        self.start = start
        self.end = start
        self.attrs: dict[str, Any] = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, job_ids: Callable[[], set[int]] | None = None,
                 count_jobs: frozenset[str] = frozenset()) -> None:
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        # Spans named in ``count_jobs`` record how many Spark jobs of the
        # current op's job group started while they were open.
        self.job_ids = job_ids
        self.count_jobs = count_jobs

    # -- recording ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(self.op_id, len(self.spans), parent, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        before = self.job_ids() if name in self.count_jobs else None
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if before is not None:
                sp.attrs["jobs"] = len(self.job_ids() - before)

    # -- installation ---------------------------------------------------------

    def _wrapper(self, orig: Callable, name: str, on_call: Callable | None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, result)
                return result

        traced.__wrapped__ = orig
        traced.__name__ = getattr(orig, "__name__", name)
        return traced

    def _set(self, owner: Any, attr: str, value: Any) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self, targets: list[tuple[str, str, str, Callable | None]],
                sites: tuple = ()) -> None:
        """``targets``: ``(module, "func" | "Class.method", span_name,
        on_call)``. ``on_call(span, args, kwargs, result)`` may add attrs.
        ``sites``: modules outside the package whose imported names are
        rebound too (the benchmark's own workload module)."""
        for mod_name, qual, span_name, on_call in targets:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if "." in qual:
                cls_name, meth = qual.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                self._set(owner, meth, self._wrapper(orig, span_name, on_call))
                continue
            orig = getattr(mod, qual)
            traced = self._wrapper(orig, span_name, on_call)
            # Rebind the defining module and every import site.
            mods = [m for n, m in list(sys.modules.items())
                    if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
            for m in [*mods, *sites]:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._set(m, k, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span_id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                children.setdefault(sp.parent_id, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(sp.span_id, []), key=lambda s: s.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.span_id] = sp.dur - covered
        return out

    def table(self, op_ids: set[int]) -> list[dict]:
        """Per span name: calls, total and self seconds, median call."""
        selft = self.self_times()
        rows: dict[str, dict] = {}
        for sp in self.spans:
            if sp.op_id not in op_ids:
                continue
            r = rows.setdefault(sp.name, {"span": sp.name, "calls": 0, "total_s": 0.0,
                                          "self_s": 0.0, "durs": []})
            r["calls"] += 1
            r["total_s"] += sp.dur
            r["self_s"] += selft[sp.span_id]
            r["durs"].append(sp.dur)
        out = []
        for r in sorted(rows.values(), key=lambda r: -r["self_s"]):
            durs = r.pop("durs")
            r["median_s"] = statistics.median(durs)
            out.append(r)
        return out

    def dump(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            json.dump([
                {"op": s.op_id, "id": s.span_id, "parent": s.parent_id, "name": s.name,
                 "start": s.start, "end": s.end, "self": selft[s.span_id],
                 "attrs": s.attrs}
                for s in self.spans
            ], fh, default=str)
