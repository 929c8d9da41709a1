"""Layer tracing from outside the engine.

Spans are recorded by wrapping the public entry points of each layer
(`plans`, `operators`, `sources`, `engine`) for the duration of a
traced round; the build and action phases the worker runs are spans
of their own. Spark jobs are attributed by job group to the phase that
fired them and read back from Spark's status store. Nothing inside
`piglet_spark` is modified on disk; the wrappers are removed again
after each traced round.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import MEMORY_COMMAND_NAME

LAYERS = ("engine", "plans", "operators", "sources", "datapipe", "action")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span
    script: str


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class RoundTrace:
    """Per-layer counters of one traced round."""
    py4j_calls: int = 0
    groups: dict[str, str] = field(default_factory=dict)  # group -> phase
    gc_s: float = 0.0
    shared_persisted: int = 0
    cache_mb: float = 0.0
    written_mb: float = 0.0
    jobs: dict[str, JobStats] = field(default_factory=dict)  # per phase


class Tracer:
    """Spans and Spark job counts of the traced rounds of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.script = ""
        self.phase = "build"
        self.round_no = 0
        self.current = RoundTrace()
        self.rounds: list[RoundTrace] = []

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0,
                               parent, self.script))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _wrap(self, owner, attr: str, layer: str, hook=None):
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(attr, layer):
                if hook is None:
                    return orig(*args, **kwargs)
                return hook(orig, *args, **kwargs)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def set_phase(self, phase: str) -> None:
        """Tag the Spark jobs fired from now on with ``phase``."""
        self.phase = phase
        group = f"pb-{self.round_no}-{phase}-{self.script}"
        self.current.groups[group] = phase
        self.sc.setJobGroup(group, group)

    def _store_hook(self, orig, *args, **kwargs):
        # STORE is the action of a script that ends in one: its write
        # jobs count as action jobs, not as plan-build jobs
        previous = self.phase
        self.set_phase("action")
        try:
            with self.span("write", "action"):
                return orig(*args, **kwargs)
        finally:
            self.set_phase(previous)

    def install(self) -> None:
        from piglet_spark import engine
        from piglet_spark.operators import executor
        from piglet_spark.plans import parser, rewrite
        from piglet_spark.sources import storage
        self._wrap(parser, "parse", "plans")
        self._wrap(rewrite, "rewrite", "plans")
        self._wrap(executor.Executor, "execute", "operators")
        self._wrap(storage, "load", "sources")
        self._wrap(storage, "store", "sources", self._store_hook)
        self._wrap(engine.PigEngine, "run", "engine")
        self._wrap(engine.PigEngine, "run_all", "engine")
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            # memory commands release proxies whenever Python's GC runs,
            # from py4j's finalizer thread; they would make the count vary
            if self.phase == "build" and not command.startswith(
                    MEMORY_COMMAND_NAME):
                self.current.py4j_calls += 1
            return send(command, *args, **kwargs)
        self._saved.append((client, "send_command", None))
        client.send_command = counting_send

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            if orig is None:
                delattr(owner, attr)  # drop the instance override
            else:
                setattr(owner, attr, orig)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # ----------------------------------------------------------- rounds

    def gc_s(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def begin_round(self, round_no: int) -> None:
        self.round_no = round_no
        self.current = RoundTrace()
        self.current.gc_s = -self.gc_s()
        self.install()

    def end_round(self) -> RoundTrace:
        self.uninstall()
        self.current.gc_s += self.gc_s()
        self.current.jobs = self.job_stats(self.current)
        self.rounds.append(self.current)
        return self.current

    def job_stats(self, rnd: RoundTrace) -> dict[str, JobStats]:
        """Jobs of the round's groups, per phase, from the status store.
        Read after every traced round, before the store's retention
        limit can drop them."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out: dict[str, JobStats] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            phase = rnd.groups.get(group.get()) if group.isDefined() else None
            if phase is None:
                continue
            st = out.setdefault(phase, JobStats())
            st.jobs += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(k))
                if str(stage.status()) == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += stage.numCompleteTasks()
                st.task_s += stage.executorRunTime() / 1000.0
                st.shuffle_write_mb += stage.shuffleWriteBytes() / 1e6
                st.shuffle_read_mb += stage.shuffleReadBytes() / 1e6
                st.spill_mb += stage.diskBytesSpilled() / 1e6
        return out

    # ---------------------------------------------------------- reports

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """The per-layer metrics, per traced round."""
        rounds = self.rounds

        def span_s(pred) -> float:
            return sum(s.end - s.start for s in self.spans if pred(s))

        def jobs(phase: str, key: str) -> float:
            return sum(getattr(r.jobs.get(phase, JobStats()), key)
                       for r in rounds)
        m = {
            "plans.s": span_s(lambda s: s.layer == "plans"),
            "operators.build_s": span_s(lambda s: s.layer == "operators"),
            "datapipe.build_s": span_s(lambda s: s.layer == "datapipe"),
            "build.jobs": jobs("build", "jobs"),
            "build.task_s": jobs("build", "task_s"),
            "build.py4j_calls": sum(r.py4j_calls for r in rounds),
            "action.s": span_s(lambda s: s.layer == "action"),
            "sources.store_s": span_s(lambda s: s.name == "store"),
            "sources.load_s": span_s(lambda s: s.name == "load"),
            "sources.written_mb": sum(r.written_mb for r in rounds),
            "engine.shared_persisted": sum(r.shared_persisted
                                           for r in rounds),
            "engine.cache_mb": sum(r.cache_mb for r in rounds),
            "jvm.gc_s": sum(r.gc_s for r in rounds),
        }
        for key in ("jobs", "stages", "tasks", "task_s", "shuffle_write_mb",
                    "shuffle_read_mb", "spill_mb"):
            m[f"action.{key}"] = jobs("action", key)
        for layer, v in self.self_times().items():
            m[f"self.{layer}_s"] = v
        m = {k: v / len(rounds) for k, v in m.items()}
        m["action.core_busy"] = (m["action.task_s"] / (m["action.s"] * cores)
                                 if m["action.s"] else 0.0)
        return m

    def self_times(self) -> dict[str, float]:
        """Each layer's span time minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out = {layer: 0.0 for layer in LAYERS}
        for s, c in zip(self.spans, child):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - c
        return out

    def span_records(self) -> list[dict]:
        return [{"name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "script": s.script}
                for s in self.spans]
