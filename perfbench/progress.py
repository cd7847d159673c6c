"""Streaming progress: collection and attribution of batches to files.

``StreamingQueryListener`` delivers progress events asynchronously and in
no guaranteed order relative to the benchmark's own actions, so nothing
here relies on arrival order. Every event is keyed by query id and
``batchId``, and a file is attributed to the batch at which the query's
cumulative ``numInputRows`` first covers the file's last row.
"""

from __future__ import annotations

import json
import threading
import time
from datetime import datetime

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")  # trigger phases in execution order


def batch_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"]).timestamp()


def batch_end(p: dict) -> float:
    """Commit time: trigger start plus the whole trigger's duration."""
    return batch_start(p) + p["durationMs"]["triggerExecution"] / 1e3


def dedupe(events: list[dict], query_id: str) -> list[dict]:
    """One progress per batch of ``query_id``, in batchId order."""
    by_id = {p["batchId"]: p for p in events if p["id"] == query_id}
    return [by_id[b] for b in sorted(by_id)]


def attribute(file_rows: list[int], batches: list[dict]) -> list[dict | None]:
    """For each file, the progress of the batch that committed it.

    ``file_rows`` are the row counts of the files in the order the source
    reads them; ``batches`` are one query's progress events in batchId
    order (see ``dedupe``). A file not yet fully read maps to ``None``.
    A batch whose cumulative row count ends inside a file means the
    batches did not consume whole files, which the benchmark's inputs
    never allow, so it raises.
    """
    ends, total = [], 0
    for n in file_rows:
        total += n
        ends.append(total)
    out: list[dict | None] = [None] * len(file_rows)
    i, cum = 0, 0
    for p in batches:
        n = p["numInputRows"]
        if n == 0:
            continue
        cum += n
        while i < len(ends) and ends[i] <= cum:
            out[i] = p
            i += 1
        if i < len(ends) and cum > (ends[i - 1] if i else 0):
            raise ValueError(
                f"batch {p['batchId']} ends inside file {i} "
                f"(cumulative rows {cum})")
    if cum > total:
        raise ValueError(f"batches read {cum} rows, files hold {total}")
    return out


def peak_backlog(written: list[float], committed: list[float]) -> int:
    """Most files written but not yet committed at any write instant."""
    return max((sum(1 for w, c in zip(written, committed) if w <= t < c)
                for t in written), default=0)


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.cv = threading.Condition()
            self.events: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = json.loads(event.progress.json)
            with self.cv:
                self.events.append(p)
                self.cv.notify_all()

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def batches(self, query_id: str) -> list[dict]:
            with self.cv:
                return dedupe(self.events, query_id)

        def wait_rows(self, query_id: str, rows: int, deadline: float) -> bool:
            """Block until ``query_id`` has committed ``rows`` input rows."""
            def done():
                return sum(p["numInputRows"]
                           for p in dedupe(self.events, query_id)) >= rows
            with self.cv:
                return self.cv.wait_for(done, max(0.0, deadline - time.time()))

    return ProgressLog()
