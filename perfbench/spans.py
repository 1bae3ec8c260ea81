"""Spans around the engine's layers, with Spark counters per span.

Tracing is a separate mode of the benchmark: ``Tracer.install`` rebinds
public functions of the engine's modules (sinks, streaming phases, the
foreachBatch epoch body) in this process only, so every call opens a
span. A span records name, start, end and parent, and on exit folds the
Spark jobs it launched into counters read from the application status
store. Spans stay in memory and are written out once, at the end.

The status-store reader is this benchmark's own: it takes a span's
job-id window from the scheduler's job counter, reads job and stage
records through the ``AppStatusStore`` accessors, caches finished ones
(they never change), and is called right after each span so that no
job ages out of the store's retention window.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "interpro7_dw_spark"

# (span name, module, attribute): functions the traced run wraps. A
# target that no longer exists is recorded as an absent span.
TARGETS = [
    ("sources.write_mart", "sources.sinks", "write_mart"),
    ("sources.write_lookup_mart", "sources.sinks", "write_lookup_mart"),
    ("sources.write_tsv", "sources.sinks", "write_tsv"),
    ("sources.write_json_batches", "sources.sinks", "write_json_batches"),
    ("sources.write_xml", "sources.sinks", "write_xml"),
    ("streaming.seed", "streaming.minmax_stream", "seed_minmax_state"),
    ("streaming.cow_write", "streaming.minmax_stream", "cow_apply_images"),
    ("streaming.drain", "streaming.minmax_stream", "maintain_group_minmax_stream"),
]


@dataclass
class Job:
    start: float  # epoch seconds
    end: float
    stage_ids: list[int]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StatusStore:
    """Job and stage records of the running application."""

    STAGE_FIELDS = (
        "tasks", "failed_tasks", "executor_run_s", "input_bytes",
        "output_bytes", "shuffle_write_bytes", "spill_bytes", "retries",
    )

    def __init__(self, spark) -> None:
        self._jsc = spark._jsc
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._jobs: dict[int, Job] = {}
        self._stages: dict[int, dict] = {}

    def max_job_id(self) -> int:
        """Highest job id submitted so far (one JVM call)."""
        return int(self._sc.dagScheduler().numTotalJobs()) - 1

    def jobs_between(self, j0: int, j1: int) -> list[int]:
        """Ids in ``(j0, j1]``, fetching each finished job once."""
        ids = []
        for jid in range(j0 + 1, j1 + 1):
            if jid not in self._jobs:
                try:
                    jd = self._store.job(jid)
                except Exception:  # evicted from the store: counted as absent
                    continue
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isEmpty() or done.isEmpty():
                    continue
                it = jd.stageIds().iterator()
                stages = []
                while it.hasNext():
                    stages.append(int(str(it.next())))
                self._jobs[jid] = Job(
                    sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0,
                    stages,
                )
            ids.append(jid)
        return ids

    def job(self, jid: int) -> Job:
        return self._jobs[jid]

    def stage(self, sid: int) -> dict:
        if sid not in self._stages:
            rec = dict.fromkeys(self.STAGE_FIELDS, 0)
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran, nothing to add
                return rec
            rec.update(
                tasks=int(sd.numCompleteTasks()) + int(sd.numFailedTasks()),
                failed_tasks=int(sd.numFailedTasks()),
                executor_run_s=int(sd.executorRunTime()) / 1000.0,
                input_bytes=int(sd.inputBytes()),
                output_bytes=int(sd.outputBytes()),
                shuffle_write_bytes=int(sd.shuffleWriteBytes()),
                spill_bytes=int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                retries=int(sd.attemptId()),
            )
            self._stages[sid] = rec
        return self._stages[sid]

    def persistent_rdds(self) -> int:
        """RDDs still persisted in the application."""
        return int(self._jsc.getPersistentRDDs().size())

    def totals(self) -> dict:
        """Stage counters summed over every stage read so far."""
        out = dict.fromkeys(self.STAGE_FIELDS, 0)
        for rec in self._stages.values():
            for k, v in rec.items():
                out[k] += v
        return out


class Tracer:
    def __init__(self, spark) -> None:
        self.store = StatusStore(spark)
        self.spans: list[Span] = []
        self.absent: list[str] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        # called after each streaming epoch; its numbers become span attrs
        self.after_epoch = None
        # spans are recorded only while enabled (not during a warm-up)
        self.enabled = False

    # --- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs) if self.enabled else contextlib.nullcontext()

    def _open(self, name: str, attrs: dict) -> tuple[int, int]:
        t = time.perf_counter()
        stack = self._stack()
        # a span opened on a callback thread (a foreachBatch epoch)
        # hangs under whatever the main thread has open
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        j0 = self.store.max_job_id()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(
                name, 0.0, parent=parent,
                thread=threading.current_thread().name, attrs=dict(attrs),
            ))
        stack.append(idx)
        self._add_overhead(time.perf_counter() - t)
        self.spans[idx].start = time.time()
        return idx, j0

    def _close(self, idx: int, j0: int) -> None:
        end = time.time()
        t = time.perf_counter()
        sp = self.spans[idx]
        sp.end = end
        self._stack().pop()
        sp.jobs = self.store.jobs_between(j0, self.store.max_job_id())
        for sid in (s for j in sp.jobs for s in self.store.job(j).stage_ids):
            self.store.stage(sid)
        self._add_overhead(time.perf_counter() - t)

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:  # epoch spans close on the foreachBatch thread
            self.overhead_s += seconds

    # --- rebinding -----------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every target and rebind it in each loaded module of the
        package that holds the original (``from x import f`` copies)."""
        for span_name, mod_name, attr in TARGETS:
            try:
                mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
                orig = getattr(mod, attr)
            except (ImportError, AttributeError):
                self.absent.append(f"{span_name} ({mod_name}.{attr})")
                continue
            wrapped = self._wrap(span_name, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE) and \
                        vars(m).get(attr) is orig:
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        self._wrap_foreach_batch()

    def _wrap_foreach_batch(self) -> None:
        """Each micro-batch body becomes a ``streaming.epoch`` span."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            def epoch(batch, epoch_id):
                with tracer.span("streaming.epoch", epoch=epoch_id) as sp:
                    out = func(batch, epoch_id)
                    if sp is not None and tracer.after_epoch is not None:
                        sp.attrs.update(tracer.after_epoch())
                    return out

            return orig(writer, epoch)

        self._restore.append((DataStreamWriter, "foreachBatch", orig))
        DataStreamWriter.foreachBatch = foreach_batch

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # --- folding -------------------------------------------------------
    def counters(self, sp: Span, children: list[Span]) -> dict:
        """Spark counters of one span over its own job-id window."""
        out = dict.fromkeys(StatusStore.STAGE_FIELDS, 0)
        stage_ids = set()
        for j in sp.jobs:
            stage_ids.update(self.store.job(j).stage_ids)
        for sid in stage_ids:
            for k, v in self.store.stage(sid).items():
                out[k] += v
        jobs = [self.store.job(j) for j in sp.jobs]
        out["jobs"] = len(jobs)
        out["wall_s"] = sp.wall
        out["driver_only_s"] = sp.wall - _union(
            [(j.start, j.end) for j in jobs], sp.start, sp.end
        )
        out["self_s"] = sp.wall - _union(
            [(c.start, c.end) for c in children], sp.start, sp.end
        )
        return out

    def by_name(self) -> dict[str, dict]:
        """Counters summed over every span of each name, plus ``calls``."""
        agg: dict[str, dict] = {}
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for idx, sp in enumerate(self.spans):
            c = self.counters(sp, children.get(idx, []))
            a = agg.setdefault(sp.name, {"calls": 0})
            a["calls"] += 1
            for k, v in c.items():
                a[k] = a.get(k, 0) + v
            for k, v in sp.attrs.items():
                if isinstance(v, (int, float)) and k != "epoch":
                    a[k] = v  # last value wins (e.g. state size after the epoch)
        return agg

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "thread": s.thread, "jobs": len(s.jobs), "attrs": s.attrs}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        self.idx, self.j0 = self.tracer._open(self.name, self.attrs)
        return self.tracer.spans[self.idx]

    def __exit__(self, *exc):
        self.tracer._close(self.idx, self.j0)
        return False
