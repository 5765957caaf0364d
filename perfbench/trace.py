"""Span recorder for the traced run.

``install`` wraps engine entry points in spans from the benchmark's own
files; the engine itself is not modified. Each span records a name, its
start and end, its parent span and the id of the closed-loop cycle it
belongs to. Spans stay in memory until ``dump`` writes them out at the
end of the run.

The engine calls ``foreachBatch`` bodies on a callback thread while the
thread that started the stream waits, so spans nest strictly. One stack
shared across threads therefore gives every span its true parent.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    idx: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._open: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(),
                     parent=self._open[-1].idx if self._open else None,
                     op=self.op, attrs=attrs)
            self.spans.append(s)
            self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                self._open.remove(s)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur = 0.0, s.start
        for c in sorted(kids.get(s.idx, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        return s.dur - covered

    def ancestors(self, s: Span):
        while s.parent is not None:
            s = self.spans[s.parent]
            yield s

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s) | {"self": self.self_time(s, kids)}
                f.write(json.dumps(row, default=str) + "\n")


def _patch(owner, attr: str, make):
    orig = owner.__dict__[attr]
    setattr(owner, attr, make(orig))
    return owner, attr, orig


def install(rec: Recorder):
    """Wrap the engine's merge, the EpochContext properties and every
    maintainer's ``apply_epoch`` in spans. Returns an undo function."""
    from tap_github_search_spark.streaming import derived
    from tap_github_search_spark.table.microlake import MicroLakeTable

    def merge(orig):
        @functools.wraps(orig)
        def wrapped(self, *a, **kw):
            before = self.stats()
            with rec.span("merge", table=os.path.basename(self.path)) as s:
                res = orig(self, *a, **kw)
            after = self.stats()
            s.attrs.update(
                skipped=res.skipped, events_in=res.events_in,
                buckets_touched=res.buckets_touched,
                files_added=after["n_files"] - before["n_files"],
                bytes_added=after["total_bytes"] - before["total_bytes"],
            )
            return res
        return wrapped

    def apply_epoch(name):
        def make(orig):
            @functools.wraps(orig)
            def wrapped(self, *a, **kw):
                with rec.span(name):
                    return orig(self, *a, **kw)
            return wrapped
        return make

    def ctx_prop(slot):
        """Span only the first, materializing access of a property."""
        def make(prop):
            def fget(self):
                if getattr(self, slot) is not None:
                    return prop.fget(self)
                with rec.span("derived.ctx"):
                    return prop.fget(self)
            return property(fget)
        return make

    undo = [
        _patch(MicroLakeTable, "merge", merge),
        _patch(derived.RollupMaintainer, "apply_epoch",
               apply_epoch("derived.rollup")),
        _patch(derived.TextIndexMaintainer, "apply_epoch",
               apply_epoch("derived.text_index")),
        _patch(derived.LshIndexMaintainer, "apply_epoch",
               apply_epoch("derived.lsh")),
        _patch(derived.EpochContext, "root_keys", ctx_prop("_root")),
        _patch(derived.EpochContext, "dirty_live", ctx_prop("_dirty")),
    ]

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)
    return restore


MAINTAINERS = ("derived.rollup", "derived.text_index", "derived.lsh")


def layer_report(rec: Recorder) -> dict:
    """Per-layer figures from the traced spans. Write-side layers (the
    spans under a ``job.*`` write span) are per traced write: self
    seconds of each layer, merge counters for main-table merges, and
    merges a maintainer issues split out as ``derived.merge_s``. Catalog
    queries are whole durations per suite pass (engine spans a query
    opens are part of it). Lookups and scans are per call."""
    kids = rec.children()
    tot: dict[str, float] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    for s in rec.spans:
        if s.op is None:
            continue
        chain = [s.name] + [a.name for a in rec.ancestors(s)]
        if s.name in ("lookup", "scan"):
            add(f"{s.name}.total_s", s.dur)
            add(f"{s.name}.n", 1)
        elif s.name.startswith("query."):
            add(f"{s.name}_s", s.dur)
        elif s.name == "suite":
            add("suite.n", 1)
        elif not chain[-1].startswith("job."):
            continue  # engine spans inside a catalog query
        elif len(chain) == 1:
            add("job.other_s", rec.self_time(s, kids))
            add("job.n", 1)
        elif s.name == "merge":
            if set(chain[1:]) & set(MAINTAINERS):
                add("derived.merge_s", s.dur)
                continue
            add("merge.call_s", s.dur)
            add("merge.calls", 1)
            for k in ("events_in", "buckets_touched", "files_added",
                      "bytes_added"):
                add(f"merge.{k}", s.attrs.get(k, 0))
        else:
            add(f"{s.name}_s", rec.self_time(s, kids))
    writes = max(tot.get("job.n", 0), 1)
    suites = max(tot.get("suite.n", 0), 1)
    out = {k: v / (suites if k.startswith("query.") else writes)
           for k, v in tot.items() if not k.endswith((".n", ".total_s"))}
    for m in MAINTAINERS:
        out.setdefault(f"{m}_s", 0.0)
    out.setdefault("derived.ctx_s", 0.0)
    out.setdefault("derived.merge_s", 0.0)
    calls = tot.get("merge.calls", 0)
    out["merge.events_per_epoch"] = (
        tot.get("merge.events_in", 0) / calls if calls else 0.0)
    if tot.get("lookup.n"):
        out["lookup.call_ms"] = 1000 * tot["lookup.total_s"] / tot["lookup.n"]
    if tot.get("scan.n"):
        out["scan.call_s"] = tot["scan.total_s"] / tot["scan.n"]
    return out
