"""Streaming telemetry: the S7 log-sink analogue for the streaming path.

The reference's jobs emit structured log lines to stdout for CloudWatch
(reference: docker-images/validation/validate.py:8-13).  Batch jobs here
do the same via ``logging`` (cli.py); the streaming path additionally
gets a ``StreamingQueryListener`` that logs one structured line per
micro-batch progress event — rows/sec, batch duration and its phases,
watermark — the numbers an operator alarms on at 100 TB/day.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql.streaming import StreamingQueryListener

logger = logging.getLogger("rtedp.streaming")


class MetricsLogListener(StreamingQueryListener):
    """Logs one JSON line per micro-batch; keeps a bounded in-memory
    tail (``records``) for tests and ad-hoc inspection."""

    def __init__(self, keep_last: int = 100):
        self.keep_last = keep_last
        self.records: list[dict] = []

    def onQueryStarted(self, event) -> None:
        logger.info("stream started id=%s name=%s", event.id, event.name)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        phases = dict(p.durationMs or {})
        rec = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "duration_ms": phases.get("triggerExecution"),
            # every durationMs phase (latestOffset, getBatch,
            # queryPlanning, addBatch, walCommit, commitOffsets, ...):
            # which part of the trigger owns its time
            "duration_phases_ms": phases,
            "input_rows_per_sec": p.inputRowsPerSecond,
            "watermark": p.eventTime.get("watermark") if p.eventTime else None,
        }
        self.records.append(rec)
        del self.records[: -self.keep_last]
        logger.info("stream progress %s", json.dumps(rec, default=str))

    def onQueryTerminated(self, event) -> None:
        logger.info(
            "stream terminated id=%s exception=%s", event.id, event.exception
        )

    def onQueryIdle(self, event) -> None:  # Spark >= 3.5
        pass
