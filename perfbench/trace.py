"""Layer spans for the traced run.

Each layer's public functions are wrapped where the engine looks their
names up (module globals of ``debezium_spark.streaming.engine``, the
``LakeTable`` and ``Engine`` classes, ``debezium_spark.publisher``).
A wrapper records a span (layer, start, end, parent) and sets a Spark
job group ``perfbench|<layer>|<function>`` for its duration, restoring
the caller's group on exit, so the event log attributes each job to the
innermost layer that launched it.

Spans live on one stack shared by all Python threads: the streaming
front-end runs ``foreachBatch`` on a callback thread while the thread
that called ``run_streaming`` blocks, so spans never interleave.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import debezium_spark.publisher as publisher_mod
import debezium_spark.streaming.engine as engine_mod
from debezium_spark.lake import LakeTable
from debezium_spark.streaming.engine import Engine

# layer -> (owner, attribute) pairs; the layer names are module names
LAYERS: dict[str, tuple[tuple[object, str], ...]] = {
    "engine": ((Engine, "snapshot"), (Engine, "stream"), (Engine, "run_streaming")),
    "sources.changelog": (
        (engine_mod, "lsn_bounds"),
        (engine_mod, "read_changelog_range"),
        (engine_mod, "stream_changelog"),
    ),
    "sources.snapshot": ((engine_mod, "snapshot_envelopes"),),
    "operators.compaction": ((engine_mod, "compact"),),
    "lake": (
        (LakeTable, "merge"),
        (LakeTable, "merge_full"),
        (LakeTable, "read_state"),
        (LakeTable, "table_changes"),
    ),
    "publisher": ((publisher_mod, "publish_changes"),),
}
DRIVER = "driver"  # time and jobs outside every layer span
GROUP_PREFIX = "perfbench|"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def job_group(layer: str, fn: str) -> str:
    return f"{GROUP_PREFIX}{layer}|{fn}"


def layer_of_group(group: str | None) -> str:
    """The layer a job group names; any other group is the driver's."""
    if group and group.startswith(GROUP_PREFIX):
        return group.split("|")[1]
    return DRIVER


@dataclass
class Span:
    layer: str
    parent: Span | None
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object  # pyspark SparkContext
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            prev = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
            self.sc.setJobGroup(job_group(layer, name), f"layer={layer} fn={name}")
            span = Span(layer, self._stack[-1] if self._stack else None, time.perf_counter())
            self._stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                if span.parent is not None:
                    span.parent.child_s += span.duration
                self.spans.append(span)
                for k, v in zip(_GROUP_PROPS, prev):
                    self.sc.setLocalProperty(k, v)

        return traced

    @contextmanager
    def installed(self):
        """Wrap every layer function, label the calling thread's jobs
        as the driver's, and undo both on exit."""
        saved = []
        for layer, targets in LAYERS.items():
            for owner, name in targets:
                orig = owner.__dict__[name]
                saved.append((owner, name, orig))
                setattr(owner, name, self._wrap(layer, name, orig))
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(job_group(DRIVER, "pass"), "layer=driver")
        try:
            yield self
        finally:
            for k, v in zip(_GROUP_PROPS, prev):
                self.sc.setLocalProperty(k, v)
            for owner, name, orig in saved:
                setattr(owner, name, orig)

    def summary(self, wall_s: float) -> dict[str, dict[str, float]]:
        """Per layer: ``calls``, ``wall_s`` (outermost spans of the
        layer, so recursion into the same layer is not counted twice)
        and ``self_s`` (span time minus child spans). The driver row's
        self time is the pass wall time outside every root span, so
        self times sum to ``wall_s``."""
        out = {
            layer: {"calls": 0, "wall_s": 0.0, "self_s": 0.0}
            for layer in (*LAYERS, DRIVER)
        }
        covered = 0.0
        for s in self.spans:
            row = out[s.layer]
            row["calls"] += 1
            row["self_s"] += s.duration - s.child_s
            p = s.parent
            while p is not None and p.layer != s.layer:
                p = p.parent
            if p is None:
                row["wall_s"] += s.duration
            if s.parent is None:
                covered += s.duration
        out[DRIVER]["self_s"] = wall_s - covered
        out[DRIVER]["wall_s"] = wall_s - covered
        return out
