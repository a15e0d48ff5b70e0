"""Layer spans for traced repetitions, recorded from outside the program.

``Tracer.installed()`` replaces the operator functions that
``go_dedupe_spark.plans.pipeline`` imports, and ``CheckpointStore.write``,
with wrappers. Each wrapper opens a span and sets a Spark job group named
after the span, so the jobs a layer triggers can be read back from
Spark's status store afterwards. ``run_pipeline`` materializes every
stage before it calls the next stage's function, so a layer span runs
from its function's entry to the next layer's entry; the last one ends
when ``Tracer.finish()`` is called. A ``CheckpointStore.write`` call is a
child span inside the layer that produced the table: with a store the
stage's compute runs inside the write.

Nothing here copies the pipeline's stage wiring: the stages run exactly
as ``run_pipeline`` wires them, and untraced repetitions run with the
original functions in place.
"""

from __future__ import annotations

import inspect
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from go_dedupe_spark.plans import pipeline as pipeline_mod
from go_dedupe_spark.plans.checkpoint import CheckpointStore

# operator function imported by plans.pipeline -> layer name
PIPELINE_LAYERS = {
    "normalize": "normalize",
    "make_blocks": "blocking",
    "candidate_pairs": "pairs",
    "build_features": "scoring.features",
    "score_pairs": "scoring.scores",
    "connected_components": "components",
    "resolve_clusters": "resolve",
}
CHECKPOINT_LAYER = "checkpoint"


@dataclass
class Span:
    name: str
    layer: str
    group: str
    start: float
    end: float | None = None
    parent: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced repetition; ``tag`` makes its job groups unique."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        # layer -> the first argument of its latest call (the input
        # DataFrame the layer ran on)
        self.inputs: dict[str, object] = {}
        self._layer: Span | None = None

    def _open(self, name: str, layer: str, parent: str | None = None) -> Span:
        span = Span(name, layer, f"{self.tag}:{name}", time.monotonic(),
                    parent=parent)
        self.spans.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def enter(self, layer: str) -> None:
        """Close the open layer span and open ``layer``'s."""
        now = time.monotonic()
        if self._layer is not None:
            self._layer.end = now
        self._layer = self._open(layer, layer)

    def finish(self) -> None:
        if self._layer is not None:
            self._layer.end = time.monotonic()
            self._layer = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def child(self, name: str, layer: str):
        parent = self._layer
        span = self._open(name, layer, parent.name if parent else None)
        try:
            yield span
        finally:
            span.end = time.monotonic()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)

    def _wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            self.enter(layer)
            if args:
                self.inputs[layer] = args[0]
            return fn(*args, **kwargs)
        return traced

    @contextmanager
    def installed(self):
        """Trace every layer of ``run_pipeline`` for the ``with`` body."""
        imported = {
            name for name, value in vars(pipeline_mod).items()
            if inspect.isfunction(value)
            and value.__module__.startswith("go_dedupe_spark.operators.")
        }
        if imported != set(PIPELINE_LAYERS):
            raise RuntimeError(
                "plans.pipeline imports operators "
                f"{sorted(imported)}; the tracer maps {sorted(PIPELINE_LAYERS)}"
                " -- update PIPELINE_LAYERS")
        originals = {name: getattr(pipeline_mod, name) for name in PIPELINE_LAYERS}
        write = CheckpointStore.write

        def traced_write(store, df, stage, *args, **kwargs):
            with self.child(f"{CHECKPOINT_LAYER}.write.{stage}",
                              CHECKPOINT_LAYER):
                return write(store, df, stage, *args, **kwargs)

        for name, layer in PIPELINE_LAYERS.items():
            setattr(pipeline_mod, name, self._wrap(originals[name], layer))
        CheckpointStore.write = traced_write
        try:
            yield self
        finally:
            for name, fn in originals.items():
                setattr(pipeline_mod, name, fn)
            CheckpointStore.write = write
            self.finish()

    def layer_walls(self) -> dict[str, float]:
        """Top-level span wall per layer, summed over its spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.parent is None:
                out[s.layer] = out.get(s.layer, 0.0) + s.wall_s
        return out

    def child_walls(self) -> dict[str, float]:
        return {s.name: s.wall_s for s in self.spans if s.parent is not None}

    def as_json(self, t0: float) -> list[dict]:
        return [{"name": s.name, "parent": s.parent, "group": s.group,
                 "start_s": round(s.start - t0, 6),
                 "end_s": round(s.end - t0, 6)} for s in self.spans]


def spark_metrics(spark, groups: list[str], wall_s: float) -> dict[str, float]:
    """Aggregate Spark's status-store view of the jobs run under
    ``groups``: executor busy seconds, busy share of the span's core
    seconds, shuffle-write and spill bytes, task skew (max / median task
    duration on the heaviest stage) and job count."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    tracker = sc.statusTracker()

    executor_ms = shuffle = spill = jobs = 0
    heaviest = (-1, None, None)   # (executorRunTime, stage id, attempt)
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                attempts = store.stageData(stage_id, False, no_status, False,
                                           no_quantiles)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    run_ms = st.executorRunTime()
                    executor_ms += run_ms
                    shuffle += st.shuffleWriteBytes()
                    spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    if run_ms > heaviest[0]:
                        heaviest = (run_ms, stage_id, st.attemptId())
    skew = 1.0
    if heaviest[1] is not None:
        dist = store.taskSummary(heaviest[1], heaviest[2], quantiles)
        if dist.isDefined():
            durations = dist.get().duration()
            skew = float(durations.apply(1)) / max(float(durations.apply(0)), 1.0)
    executor_s = executor_ms / 1000.0
    return {
        "executor_s": executor_s,
        "busy_ratio": executor_s / (wall_s * sc.defaultParallelism) if wall_s else 0.0,
        "shuffle_write_bytes": float(shuffle),
        "spill_bytes": float(spill),
        "skew": skew,
        "jobs": float(jobs),
    }


def median_by_key(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
