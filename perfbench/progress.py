"""Benchmark-owned streaming listener: the full progress record.

``streaming.listener.MetricsLogListener`` keeps only
``durationMs.triggerExecution``.  This one keeps every ``durationMs``
phase and ``numInputRows`` of each micro-batch, the
``StreamingQueryProgress`` shape of the Structured Streaming paper.
It is passed through ``run_available_now(listener=...)``.
"""

from __future__ import annotations

import threading

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")


class ProgressRecorder(StreamingQueryListener):
    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
        }
        with self._lock:
            self.records.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def phase_totals(self) -> dict[str, float]:
        with self._lock:
            recs = list(self.records)
        return {
            ph: float(sum(r["duration_ms"].get(ph, 0) for r in recs if r["num_input_rows"]))
            for ph in PHASES
        }
