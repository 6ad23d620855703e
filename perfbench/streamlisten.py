"""A ``StreamingQueryListener`` that records every micro-batch.

Each record holds the batch's wall-clock start (epoch seconds, from
``progress.timestamp``), its run id, input rows, the ``durationMs``
phases and the summed ``numRowsTotal`` of its state operators.  The
benchmark attributes batches to ops by their start time.
"""

from __future__ import annotations

import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("addBatch", "triggerExecution", "walCommit", "queryPlanning")


class BatchRecorder(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        rec = {
            "start": start,
            "run_id": str(p.runId),
            "name": p.name,
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            **{f"{k}_ms": p.durationMs.get(k, 0) for k in PHASES},
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out
