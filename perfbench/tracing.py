"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start, end, the span that caused it and the id of
the pass it belongs to. Spans are kept in memory and written out once,
when the run ends. Per-layer self time is derived from them: a span's
duration minus the part of its interval its children cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    pass_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.pass_id = ""

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), parent, self.pass_id, name, layer, time.perf_counter(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.id)], fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start) - covered(children[s.id], s.start, s.end) for s in spans}


def layer_self_time(spans: list[Span]) -> dict[str, float]:
    """Layer → summed self time of its spans, in seconds."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)


class ArtifactProbe:
    """Counts hits and builds of ``pim_orc_spark.artifacts.cached_artifact``.

    Callers import ``cached_artifact`` inside their functions, so
    replacing the module attribute sees every call. A call whose
    ``build`` runs is a build (timed, and spanned under the slot call
    that triggered it); any other call is a hit.
    """

    def __init__(self, tracer: Tracer | None = None) -> None:
        self.tracer = tracer
        self.hits = 0
        self.builds = 0
        self.build_s = 0.0
        self._module = None
        self._orig = None

    def install(self) -> None:
        from pim_orc_spark import artifacts

        self._module, self._orig = artifacts, artifacts.cached_artifact
        orig = self._orig

        def wrapped(family, spark, sf_dir, build, probe=None):
            built = False

            def timed_build():
                nonlocal built
                built = True
                t0 = time.perf_counter()
                ctx = (
                    self.tracer.span(f"artifact.build:{family}", "artifacts")
                    if self.tracer
                    else contextlib.nullcontext()
                )
                try:
                    with ctx:
                        return build()
                finally:
                    self.build_s += time.perf_counter() - t0

            out = orig(family, spark, sf_dir, timed_build, probe)
            if built:
                self.builds += 1
            else:
                self.hits += 1
            return out

        artifacts.cached_artifact = wrapped

    def uninstall(self) -> None:
        if self._module is not None:
            self._module.cached_artifact = self._orig
            self._module = None
