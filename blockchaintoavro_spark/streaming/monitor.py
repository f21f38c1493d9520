"""Streaming observability + graceful shutdown (SURVEY ST7/ST8).

Reference analogs:
- queue-depth monitor loop every 5 s printing blocks/files queued
  (``Main.java:155-160``) → a ``StreamingQueryListener`` reporting rows/sec
  and batch durations per progress event;
- shutdown hook draining source → pools → writer in order
  (``Main.java:264-311``, ``ThreadHelpers.java:46-63``) → ``drain_and_stop``:
  let the current micro-batch finish, then stop; checkpointed state makes
  restart exactly-once at the batch level (stronger than the reference's
  at-least-once + downstream dedup).
"""

from __future__ import annotations

import time

from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener


class ProgressMonitor(StreamingQueryListener):
    """Collects per-batch progress (rows/sec, duration) — the engine's
    queue-depth-monitor analog. Attach with ``spark.streams.addListener``."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "duration_ms": dict(p.durationMs or {}),
            }
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def drain_and_stop(
    query: StreamingQuery, poll_seconds: float = 0.5, timeout_seconds: float = 60
) -> None:
    """Graceful drain (ST8): wait until the query goes idle (no batch in
    flight and no new data), then stop. Mirrors the reference's ordered
    teardown; checkpoint recovery covers anything after a hard kill."""
    deadline = time.monotonic() + timeout_seconds
    while time.monotonic() < deadline:
        status = query.status
        if not status["isDataAvailable"] and not status["isTriggerActive"]:
            break
        time.sleep(poll_seconds)
    query.stop()
    query.awaitTermination(timeout_seconds)
