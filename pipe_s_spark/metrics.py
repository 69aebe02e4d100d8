"""Pipeline metrics — parity with the reference's Prometheus gauges
(/root/reference/pkg/metrics/metrics.go:16-23,86-101): ``task_qps``
(rows/sec) and ``task_delay`` (now - source event time).

In Spark the numbers come for free from StreamingQueryProgress; the
listener below surfaces them in the reference's vocabulary.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class TaskMetricsSnapshot:
    qps: float = 0.0
    rows_total: int = 0
    delay_ms: float | None = None
    batches: int = 0
    history: list = field(default_factory=list)


class TaskMetricsListener(StreamingQueryListener):
    """Collects task_qps / task_delay per streaming progress event.

    delay is (wall clock - max event time seen), the reference's
    definition (now minus binlog event timestamp, metrics.go:86-101),
    available when the query reports a watermark.
    """

    def __init__(self) -> None:
        self.snapshot = TaskMetricsSnapshot()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        s = self.snapshot
        s.batches += 1
        s.qps = p.processedRowsPerSecond or 0.0
        s.rows_total += int(p.numInputRows or 0)
        wm = (p.eventTime or {}).get("max")
        if wm:
            try:
                from datetime import datetime, timezone

                t = datetime.fromisoformat(wm.replace("Z", "+00:00"))
                s.delay_ms = (
                    datetime.now(timezone.utc) - t.astimezone(timezone.utc)
                ).total_seconds() * 1000.0
            except ValueError:
                pass
        s.history.append({"batchId": p.batchId, "qps": s.qps, "rows": p.numInputRows})

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def attach_metrics(spark: SparkSession) -> TaskMetricsListener:
    listener = TaskMetricsListener()
    spark.streams.addListener(listener)
    return listener
