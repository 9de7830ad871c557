"""Layer tracing from outside the program.

:class:`Tracer` wraps the public entry points of the engine's layers for
the duration of a ``with tracer.installed():`` block and records one span
per call. Each span sets the Spark job group to its own id on entry and
restores its parent's on exit, so every Spark job belongs to its innermost
span. Stage counters are read after the run from Spark's status store, so
the only cost inside the traced run is the wrapping itself.

Wrapped entry points, with the layer each span is filed under:

- ``Pipeline.compile``                                   -> pipeline
- ``resolve_source`` (as bound in ``orientdb_etl_spark.pipeline``) -> sources
- ``apply_transformer`` (one span per step, named after the transformer)
  -> functions for transformers implemented in ``orientdb_etl_spark.functions``
  or its ``operators.mlops`` wrappers, operators otherwise
- ``run_loader``                                         -> loaders
- ``run_block``                                          -> pipeline
- ``PipelineContext.resolve_miss_checks``                -> pipeline
- the callback returned by ``streaming.ops.foreach_batch_upsert`` -> streaming
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from perfbench.workloads import sink_snapshot

JOB_GROUP = "spark.jobGroup.id"

STAGE_FIELDS = (
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "result_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: "Span | None"
    t0: float = 0.0
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)
    job_ids: list[int] = field(default_factory=list)
    # stage counters of this span's own jobs (filled by Tracer.collect)
    own: dict[str, float] = field(default_factory=dict)
    # values recorded while the span ran (frames, file-system deltas)
    extra: dict[str, Any] = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.s - sum(c.s for c in self.children)

    def walk(self) -> Iterator["Span"]:
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, key: str) -> float:
        """Counter summed over this span and its descendants."""
        return sum(s.own.get(key, 0) for s in self.walk())

    def records(self) -> list[dict]:
        """This span's tree flattened for the detail file, times relative
        to this span's start."""
        return [
            {
                "id": s.id,
                "parent": s.parent.id if s.parent else None,
                "name": s.name,
                "layer": s.layer,
                "start_s": s.t0 - self.t0,
                "end_s": s.t1 - self.t0,
                "self_s": s.self_s,
                "job_ids": s.job_ids,
            }
            for s in self.walk()
        ]


def step_layer(name: str) -> str:
    from orientdb_etl_spark.operators import get_transformer

    module = get_transformer(name).__module__
    if module.startswith("orientdb_etl_spark.functions") or module.endswith(".mlops"):
        return "functions"
    return "operators"


class Tracer:
    """Records spans around layer entry points; see the module docstring."""

    def __init__(self, spark, count_rows: bool = False) -> None:
        # count each step's rows as it is built (extra jobs inside the
        # spans, so a counting run's times are not used)
        self.count_rows = count_rows
        self.sc = spark.sparkContext
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(f"perfbench-{id(self)}-{self._n}", name, layer, parent)
        (parent.children if parent else self.roots).append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(JOB_GROUP, sp.id)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, parent.id if parent else None)

    def _wrap(self, fn: Callable, name_of: Callable, layer_of: Callable, keep=None) -> Callable:
        tracer = self

        def wrapper(*args, **kwargs):
            name = name_of(args)
            with tracer.span(name, layer_of(name)) as sp:
                out = fn(*args, **kwargs)
                if keep is not None:
                    keep(sp, args, out)
                return out

        return wrapper

    @contextlib.contextmanager
    def installed(self) -> Iterator["Tracer"]:
        """Patch the entry points for the duration of the block."""
        import orientdb_etl_spark.pipeline as P
        import orientdb_etl_spark.streaming.ops as O
        from orientdb_etl_spark.context import PipelineContext

        def keep_step(sp, args, out):
            if self.count_rows:
                sp.extra["rows_in"] = args[1].count()
                sp.extra["rows_out"] = out.count()

        def keep_loader(sp, args, out):
            sp.extra["df_in"] = args[1]

        patches = [
            (P.Pipeline, "compile", self._wrap(
                P.Pipeline.compile, lambda a: "compile", lambda n: "pipeline")),
            (P, "resolve_source", self._wrap(
                P.resolve_source, lambda a: "resolve_source", lambda n: "sources")),
            (P, "apply_transformer", self._wrap(
                P.apply_transformer, lambda a: a[2], step_layer, keep_step)),
            (P, "run_loader", self._wrap(
                P.run_loader, lambda a: "run_loader", lambda n: "loaders", keep_loader)),
            (P, "run_block", self._wrap(
                P.run_block, lambda a: "run_block", lambda n: "pipeline")),
            (PipelineContext, "resolve_miss_checks", self._wrap(
                PipelineContext.resolve_miss_checks, lambda a: "resolve_miss_checks",
                lambda n: "pipeline")),
            (O, "foreach_batch_upsert", self._upsert_factory(O.foreach_batch_upsert)),
        ]
        saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
        try:
            for obj, attr, new in patches:
                setattr(obj, attr, new)
            yield self
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)

    def _upsert_factory(self, factory: Callable) -> Callable:
        tracer = self

        def traced_factory(target_path, *args, **kwargs):
            fn = factory(target_path, *args, **kwargs)

            def traced_batch(batch_df, epoch_id):
                before = sink_snapshot(target_path)
                with tracer.span("upsert_batch", "streaming") as sp:
                    fn(batch_df, epoch_id)
                after = sink_snapshot(target_path)
                # dynamic partition overwrite replaces every file of a
                # touched bucket, and those are the buckets the merge read
                sp.extra["read_back_bytes"] = sum(
                    n for p, n in before.items() if p not in after
                )
                sp.extra["rewrite_bytes"] = sum(
                    n for p, n in after.items() if p not in before
                )

            return traced_batch

        return traced_factory

    # ---------------------------------------------------------------- after

    def collect(self) -> list[dict]:
        """Fill each span's stage counters from the status store; return
        the per-stage records of every job seen (for run-level figures)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages: dict[int, dict] = {}
        for root in self.roots:
            for sp in root.walk():
                sp.job_ids = sorted(tracker.getJobIdsForGroup(sp.id))
                own = dict.fromkeys(STAGE_FIELDS, 0.0)
                for jid in sp.job_ids:
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else []:
                        rec = stages.get(sid) or _stage_record(store, sid)
                        if rec is None:
                            continue
                        stages[sid] = rec
                        for k in STAGE_FIELDS:
                            own[k] += rec[k]
                own["jobs"] = len(sp.job_ids)
                sp.own = own
        return list(stages.values())


def _stage_record(store, sid: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # noqa: BLE001  (py4j: stage evicted or never submitted)
        return None
    if str(sd.status().toString()) == "SKIPPED":
        return None
    sub, done = sd.submissionTime(), sd.completionTime()
    return {
        "tasks": sd.numCompleteTasks(),
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "executor_run_s": sd.executorRunTime() / 1e3,
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "result_bytes": sd.resultSize(),
        "input_bytes": sd.inputBytes(),
        "output_bytes": sd.outputBytes(),
        "num_tasks": sd.numTasks(),
        "start_ms": sub.get().getTime() if sub.isDefined() else None,
        "end_ms": done.get().getTime() if done.isDefined() else None,
    }


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query, as
    Catalyst's phase tracker records it (forcing the physical plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def serial_stage_s(stages: list[dict]) -> float:
    """Wall time covered by single-task stages (union of their intervals)."""
    iv = sorted(
        (s["start_ms"], s["end_ms"])
        for s in stages
        if s["num_tasks"] == 1 and s["start_ms"] is not None and s["end_ms"] is not None
    )
    total, cur_s, cur_e = 0, None, None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def gc_ms(spark) -> float:
    """Cumulative JVM garbage-collection time of the driver (all collectors)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))
