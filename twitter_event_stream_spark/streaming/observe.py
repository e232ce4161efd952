"""Streaming observability (SURVEY §2.1 R11 — the bridge's stats surface).

The reference process exposed per-connection delivery counters; the Spark
mapping is the engine-native triple every deployment wires into dashboards:

1. ``df.observe(...)`` — custom per-micro-batch metrics computed INSIDE the
   query plan (exact, no second job, no sampling), surfaced through
   ``StreamingQueryProgress.observedMetrics``. :func:`observe_wire` instruments
   a DLQ-decoded stream with accepted/rejected counts per batch.
2. :class:`ProgressCapture` — a ``StreamingQueryListener`` that collects every
   progress event for long-running queries (the push path: listeners fire on
   the driver as batches complete).
3. :func:`progress_summary` — a pull-path rollup over
   ``query.recentProgress`` after (or during) a run; deterministic after
   ``awaitTermination``, so tests and bench assert on it without racing the
   asynchronous listener bus.

All three read the SAME QueryProgress payload, so a number seen in a test is
the number a production listener ships to a metrics store.
"""

from __future__ import annotations

from statistics import median
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

#: Name under which :func:`observe_wire` metrics appear in
#: ``StreamingQueryProgress.observedMetrics``.
WIRE_METRICS = "wire_metrics"


def observe_wire(decoded: DataFrame) -> DataFrame:
    """Instrument a :func:`~.pipelines.decode_events_dlq` stream with exact
    per-batch ingest counters.

    Adds an ``observe`` node computing, per micro-batch: total rows, accepted
    rows, and one counter per reject reason. ``observe`` aggregates inside
    the existing plan (a metrics-only accumulator pass — the rows flow
    through unchanged), so the counters are exact at any scale with zero
    extra jobs, unlike a parallel ``count()`` query which would re-read the
    source. Returns the same frame, still splittable with ``dlq_split``.
    """
    r = F.col("reject_reason")
    return decoded.observe(
        WIRE_METRICS,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(r.isNull(), 1)).alias("n_accepted"),
        F.count(F.when(r == "malformed", 1)).alias("n_malformed"),
        F.count(F.when(r == "empty", 1)).alias("n_empty"),
        F.count(F.when(r == "missing_required", 1)).alias("n_missing_required"),
    )


def _progress_row(p: Any) -> dict:
    """Normalize one ``StreamingQueryProgress`` (from ``recentProgress`` or a
    listener event) to the flat dict the summary consumes. Uses the object
    API, not ``.json`` — the JSON form flattens ``observedMetrics`` rows to
    positional arrays, losing the metric names."""
    state = p.stateOperators or []
    return {
        "query_id": str(p.id),
        "batch_id": p.batchId,
        "num_input_rows": p.numInputRows or 0,
        "input_rows_per_second": p.inputRowsPerSecond or 0.0,
        "processed_rows_per_second": p.processedRowsPerSecond or 0.0,
        # every phase Spark timed (latestOffset, getBatch, queryPlanning,
        # addBatch, walCommit, commitOffsets, triggerExecution, ...)
        "duration_ms": dict(p.durationMs or {}),
        # one entry per state operator: its state-store commit time
        "state_commit_ms": [s.commitTimeMs or 0 for s in state],
        "state_rows_total": sum(s.numRowsTotal or 0 for s in state),
        "state_memory_bytes": sum(s.memoryUsedBytes or 0 for s in state),
        "watermark": (p.eventTime or {}).get("watermark"),
        "observed": {
            name: row.asDict() for name, row in (p.observedMetrics or {}).items()
        },
    }


class ProgressCapture(StreamingQueryListener):
    """R11 push path — collect every micro-batch's QueryProgress.

    Register with ``spark.streams.addListener(cap)`` before ``start()`` and
    remove with ``removeListener`` when done. Listener callbacks run on the
    driver's listener bus asynchronously; for deterministic post-run
    assertions prefer :func:`progress_summary` over the captured list.

    The listener bus is session-wide: with several queries running (e.g.
    the DLQ split's two lanes) ``rows`` interleaves all of them — each row
    carries its ``query_id``, and :meth:`rows_for` slices one query out.
    """

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self.terminated: list[str] = []

    def rows_for(self, query) -> list[dict]:
        """The captured rows of one query (a StreamingQuery or its id)."""
        qid = str(getattr(query, "id", query))
        return [r for r in self.rows if r["query_id"] == qid]

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.rows.append(_progress_row(event.progress))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.append(str(event.id))


def progress_summary(source: StreamingQuery | list[dict]) -> dict:
    """R11 pull path — roll recent progress up to the numbers a dashboard
    (or a test) wants: batches, rows, rates, state size, watermark, the
    summed ``observe`` counters, and where a micro-batch's time goes — the
    median of each ``durationMs`` phase and of the state-store commit,
    over the batches that read input (a trailing no-data batch would pull
    every median toward zero).

    Accepts a (finished) query — reads ``recentProgress``, complete for an
    ``availableNow`` run after ``awaitTermination`` PROVIDED the run fits
    Spark's retention window (``spark.sql.streaming.numRecentProgressUpdates``,
    default 100 progress rows; longer runs keep only the tail, so totals
    undercount) — or a :class:`ProgressCapture` rows list (typically
    ``cap.rows_for(q)``), which has no cap and is the right source for
    long-lived queries.
    """
    rows = (
        [_progress_row(p) for p in source.recentProgress]
        if isinstance(source, StreamingQuery)
        else list(source)
    )
    # Zero-input trailing batches (availableNow drain) still carry progress
    # rows; keep them in n_batches but not in the rate average.
    active = [r for r in rows if r["num_input_rows"] > 0]
    observed: dict[str, float] = {}
    for r in rows:
        for metrics in r["observed"].values():
            for k, v in metrics.items():
                if isinstance(v, (int, float)):
                    observed[k] = observed.get(k, 0) + v
    phases = sorted({k for r in active for k in r["duration_ms"]})
    commits = [ms for r in active for ms in r["state_commit_ms"]]
    return {
        "n_batches": len(rows),
        "n_input_rows": sum(r["num_input_rows"] for r in rows),
        "avg_processed_rows_per_second": (
            sum(r["processed_rows_per_second"] for r in active) / len(active)
            if active
            else 0.0
        ),
        "max_state_rows": max((r["state_rows_total"] for r in rows), default=0),
        "max_state_memory_bytes": max(
            (r["state_memory_bytes"] for r in rows), default=0
        ),
        "last_watermark": next(
            (r["watermark"] for r in reversed(rows) if r["watermark"]), None
        ),
        "observed": observed,
        "phase_median_ms": {
            k: median(r["duration_ms"][k] for r in active if k in r["duration_ms"])
            for k in phases
        },
        "state_commit_median_ms": median(commits) if commits else 0.0,
    }
