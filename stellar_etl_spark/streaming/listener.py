"""K4: transform stats / metrics — the PrintTransformStats analog
(``cmd/command_utils.go:90-103``; accumulation at
``cmd/ledger_batch_export.go:72-85``), upgraded to a
``StreamingQueryListener`` that captures per-micro-batch throughput,
watermark progression, state-store size and commit time, and rows the
stateful operators dropped as late.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Collects per-batch progress: rows/sec, durations, state rows.

    ``snapshots`` is driver-side only (tiny: one dict per micro-batch);
    :meth:`summary` aggregates to the headline numbers BENCH reports.
    """

    def __init__(self, sink_path: str | None = None):
        self.snapshots: list[dict] = []
        self.sink_path = sink_path
        self._terminated: set[str] = set()
        self._terminated_cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        snap = {
            "batchId": p.get("batchId"),
            "numInputRows": p.get("numInputRows", 0),
            "inputRowsPerSecond": p.get("inputRowsPerSecond"),
            "processedRowsPerSecond": p.get("processedRowsPerSecond"),
            "durationMs": p.get("durationMs", {}),
            "eventTime": p.get("eventTime", {}),
            "stateOperators": [
                {
                    "numRowsTotal": s.get("numRowsTotal"),
                    "numRowsUpdated": s.get("numRowsUpdated"),
                    "memoryUsedBytes": s.get("memoryUsedBytes"),
                    "numRowsDroppedByWatermark": s.get("numRowsDroppedByWatermark"),
                    "commitTimeMs": s.get("commitTimeMs"),
                    "numShufflePartitions": s.get("numShufflePartitions"),
                }
                for s in p.get("stateOperators", [])
            ],
        }
        self.snapshots.append(snap)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if self.sink_path:
            try:
                with open(self.sink_path, "w") as f:
                    json.dump(self.snapshots, f)
            except OSError:
                pass
        with self._terminated_cv:
            self._terminated.add(str(event.id))
            self._terminated_cv.notify_all()

    def wait_terminated(self, query_id, timeout_sec: float = 10.0) -> bool:
        """Block until this listener has seen ``query_id`` terminate.

        Events reach the listener asynchronously, but in order: once the
        termination event has arrived, so has every progress event of that
        query, so :meth:`summary` no longer misses trailing batches."""
        with self._terminated_cv:
            return self._terminated_cv.wait_for(
                lambda: str(query_id) in self._terminated, timeout_sec
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def summary(self) -> dict:
        rows = sum(s["numInputRows"] for s in self.snapshots)
        total_ms = sum(
            (s["durationMs"] or {}).get("triggerExecution", 0) for s in self.snapshots
        )
        def per_batch(field: str) -> list[int]:
            # one value per stateful batch, summed over its state operators
            return [
                sum(op.get(field) or 0 for op in s["stateOperators"])
                for s in self.snapshots
                if s["stateOperators"]
            ]

        state_rows = per_batch("numRowsTotal")
        state_bytes = per_batch("memoryUsedBytes")
        return {
            "batches": len(self.snapshots),
            "input_rows": rows,
            "wall_ms": total_ms,
            "rows_per_sec": (rows / (total_ms / 1000.0)) if total_ms else None,
            # watermark-eviction health: peak/final state footprint (rows and
            # bytes across all stateful operators) — bounded state means the
            # final snapshot is far below cumulative input
            "max_state_rows": max(state_rows, default=0),
            "final_state_rows": state_rows[-1] if state_rows else 0,
            "max_state_bytes": max(state_bytes, default=0),
            # rows the stateful operators dropped as behind the watermark:
            # data loss unless the input is known to be late-tolerant
            "late_rows": sum(per_batch("numRowsDroppedByWatermark")),
            "state_commit_ms": sum(per_batch("commitTimeMs")),
            # fixed by the checkpoint when it was created, not by the session
            "state_partitions": max(
                (op.get("numShufflePartitions") or 0
                 for s in self.snapshots for op in s["stateOperators"]),
                default=0,
            ),
        }
