"""Per-layer tracing from outside the program.

Only the traced run (``--trace 1``) installs any of this.  Layers are
timed by wrapping the public functions of each module at the names the
callers look them up by (``pipeline.write_kv_upsert``, not only
``sinks.kv.write_kv_upsert``), so no code inside the program changes.
Spans nest: a span's parent is the span open when it started.

Spark-side counters come from the driver's status store, read after a
listener-bus drain, per operation: jobs by job-id high-water mark
(``DAGScheduler.numTotalJobs``), never by ``jobsList().size()`` deltas,
which go wrong once the store starts evicting old jobs; stages,
shuffle, spill and GC from the stage records of those jobs.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class SparkCounters:
    """Cumulative Spark counters since construction, read on demand."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.drain()
        self.next_job = self.sc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def read(self) -> dict[str, float]:
        """Counters of the work finished since the previous read."""
        self.drain()
        out = defaultdict(float)
        store = self.sc.statusStore()
        end_job = self.sc.dagScheduler().numTotalJobs()
        for j in range(self.next_job, end_job):
            out["spark.jobs"] += 1
            try:
                ids = store.job(j).stageIds()
            except Exception:  # evicted from the store: counted, not sized
                continue
            for k in range(ids.size()):
                sd = store.lastStageAttempt(ids.apply(k))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["spark.gc_ms"] += sd.jvmGcTime()
        self.next_job = end_job
        return dict(out)


class Tracer:
    """Spans around wrapped module functions, plus named counts."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a twin that runs in a ``name``
        span.  ``counter`` is an optional (count name, fn) pair; fn's
        return value is added to that count after every call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if counter is not None:
                self.counts[counter[0]] += counter[1]()
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def wrap_pins(self) -> None:
        """Every DataFrame pin (cache, persist, local and reliable
        checkpoints) as a ``pins.s`` span; eager checkpoints carry their
        materialization time."""
        from pyspark.sql.classic.dataframe import DataFrame

        for attr in ("cache", "persist", "localCheckpoint", "checkpoint"):
            self.wrap(DataFrame, attr, "pins.s")

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def totals_since(self, first: int = 0) -> dict[str, float]:
        """Per-name time of the spans recorded from index ``first`` on,
        a span nested in one of the same name counted once."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans[first:]:
            if s["parent"] != s["name"]:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def children_of(self, root: str) -> float:
        """Time covered by the direct children of the ``root`` spans."""
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] == root)


class TracedRun:
    """The tracer, the progress listener and the Spark counters of one
    traced phase."""

    def __init__(self, spark):
        from progress import ProgressRecorder

        self.tracer = Tracer()
        self.listener = ProgressRecorder()
        self.counters = SparkCounters(spark)

    def close(self) -> None:
        self.tracer.restore()

    def layers(self, ops: list[dict], wall: float, base_wall: float) -> dict[str, float]:
        """Workload totals every workload shares: span times by name,
        counts, Spark counters of every operation, progress phases,
        unattributed operation time and the tracing overhead."""
        t = self.tracer
        out = t.totals_since()
        out.update(t.counts)
        for o in ops:
            for k, v in o["spark"].items():
                out[k] = out.get(k, 0.0) + v
        out.update({f"streaming.progress.{k}_ms": v for k, v in self.listener.phase_totals().items()})
        out["pins.count"] = float(t.n("pins.s"))
        out["streaming.pipeline.engine_s"] = out.get("streaming.pipeline.activation_s", 0.0) - out.get(
            "streaming.pipeline.batch_fn_s", 0.0
        )
        out["trace.unattributed_s"] = out.get("op", 0.0) - t.children_of("op")
        out["trace.overhead_s"] = wall - base_wall
        return out
