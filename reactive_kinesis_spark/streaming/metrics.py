"""Operational metrics: a ``StreamingQueryListener`` honoring the typed
metrics knobs (the engine analog of the reference's CloudWatch surface).

The reference uploads KPL/KCL metrics to CloudWatch at a configurable level
and granularity (reference.conf:204-260: MetricsLevel none|summary|detailed,
MetricsGranularity global|stream|shard, MetricsNamespace, MetricsUploadDelay;
typed knobs producer/KinesisProducerConfig.scala:34-35), and its reliability
test logs records/sec pit stops while running
(it/.../SimpleKinesisConsumer.scala:207-217 ``logTiming``). The engine typed
those knobs in :class:`~reactive_kinesis_spark.config.ProducerConfig`;
this module makes them *do* something for a running
pipeline:

* **level** — ``none`` emits nothing; ``summary`` emits the per-batch record
  counts and rates (the analog of UserRecordsPut/KinesisRecordsPut,
  reference.conf:235-239); ``detailed`` adds batch durations, per-stage
  timing breakdown, state-store rows, and watermark lag.
* **granularity** — ``shard`` emits per-shard progress (from the per-shard
  offset maps our sources use) PLUS the per-stream and global rollups —
  the reference's "7 metrics for 2 streams × 2 shards" contract
  (reference.conf:204-229); ``stream`` drops the per-shard series;
  ``global`` keeps only the query-level rollup.
* **namespace / upload delay** — metrics carry the namespace; a records/sec
  "pit stop" aggregate is emitted every ``upload_delay_millis`` (the
  SimpleKinesisConsumer ``logTiming`` analog).

The sink seam is ``emit(metric_dict)`` — default appends to an in-memory
list (drained by ``drain()``); a real deployment points it at CloudWatch
``put_metric_data`` or a Prometheus push gateway. Metric dicts are flat and
JSON-safe by construction.
"""

from __future__ import annotations

import json
import time
from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener

LEVELS = ("none", "summary", "detailed")
GRANULARITIES = ("global", "stream", "shard")


def _offsets(raw) -> dict | None:
    """SourceProgress start/end offsets arrive as JSON strings; our sources
    (kinesis_replay / kinesis_live) use per-shard dict offsets. Returns the
    dict when it is one, else None."""
    if raw is None:
        return None
    try:
        parsed = json.loads(raw) if isinstance(raw, str) else raw
    except (ValueError, TypeError):
        return None
    return parsed if isinstance(parsed, dict) else None


class MetricsReporter(StreamingQueryListener):
    """Per-batch throughput/latency/lag reporter.

    Parameters mirror the typed producer metrics knobs; build from a config
    with :meth:`from_config`. Attach with ``spark.streams.addListener`` (or
    :meth:`attach`); listener callbacks run on the listener-bus thread, so
    ``emit`` must be cheap and non-blocking — the default list append is.
    """

    def __init__(
        self,
        level: str = "detailed",
        granularity: str = "shard",
        namespace: str = "KinesisProducerLibrary",
        upload_delay_millis: int = 60_000,
        emit: Callable[[dict], None] | None = None,
        clock: Callable[[], float] = time.time,
    ):
        if level not in LEVELS:
            raise ValueError(f"metrics level {level!r} not one of {LEVELS}")
        if granularity not in GRANULARITIES:
            raise ValueError(
                f"metrics granularity {granularity!r} not one of {GRANULARITIES}"
            )
        self.level = level
        self.granularity = granularity
        self.namespace = namespace
        self.upload_delay_millis = upload_delay_millis
        self.metrics: list[dict] = []
        self._emit = emit if emit is not None else self.metrics.append
        self._clock = clock
        self._totals: dict[str, int] = {}  # query id → records since start
        self._started: dict[str, float] = {}
        self._last_pitstop: dict[str, float] = {}
        # (query, stream, shard) → last seen numeric end position: the
        # progress event's startOffset is null on a query's first batch, so
        # cross-batch deltas also come from our own tracking
        self._last_end: dict[tuple[str, str, str], int] = {}

    @classmethod
    def from_config(cls, conf, emit: Callable[[dict], None] | None = None):
        """From the typed knobs of a :class:`~reactive_kinesis_spark.config
        .ProducerConfig` (metrics_level / metrics_granularity /
        metrics_namespace / metrics_upload_delay_millis ←
        reference.conf:204-260)."""
        return cls(
            level=conf.metrics_level,
            granularity=conf.metrics_granularity,
            namespace=conf.metrics_namespace,
            upload_delay_millis=conf.metrics_upload_delay_millis,
            emit=emit,
        )

    def attach(self, spark) -> "MetricsReporter":
        spark.streams.addListener(self)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self)

    def drain(self) -> list[dict]:
        """Return and clear the in-memory metric buffer (default sink).

        Only the items present at the call are taken: the listener-bus
        thread may append while this runs, and what it appends stays for
        the next drain instead of being lost between a copy and a clear.
        """
        n = len(self.metrics)
        out = self.metrics[:n]
        del self.metrics[:n]
        return out

    # -- StreamingQueryListener ------------------------------------------

    def onQueryStarted(self, event) -> None:
        qid = str(event.id)
        self._started[qid] = self._clock()
        self._totals[qid] = 0
        self._last_pitstop[qid] = self._started[qid]

    def onQueryProgress(self, event) -> None:
        if self.level == "none":
            return
        p = event.progress
        qid = str(p.id)
        base = {"namespace": self.namespace, "query_id": qid, "batch_id": p.batchId}

        # global rollup (every granularity) — the UserRecordsPut/
        # KinesisRecordsPut analog plus rates
        n = int(p.numInputRows or 0)
        self._emit(
            base
            | {
                "metric": "batch_records",
                "value": n,
                "input_rows_per_sec": float(p.inputRowsPerSecond or 0.0),
                "processed_rows_per_sec": float(p.processedRowsPerSecond or 0.0),
            }
        )
        if self.level == "detailed":
            durations = dict(p.durationMs or {})
            self._emit(
                base
                | {
                    "metric": "batch_duration_ms",
                    "value": int(durations.get("triggerExecution", 0)),
                    "durations_ms": {k: int(v) for k, v in durations.items()},
                }
            )
            for i, state in enumerate(p.stateOperators or []):
                self._emit(
                    base
                    | {
                        "metric": "state_rows",
                        "operator": i,
                        "value": int(state.numRowsTotal or 0),
                        "updated": int(state.numRowsUpdated or 0),
                    }
                )
            watermark = (p.eventTime or {}).get("watermark")
            if watermark:
                self._emit(base | {"metric": "watermark", "value": watermark})

        if self.granularity in ("stream", "shard"):
            for src in p.sources or []:
                stream_dims = base | {"stream": src.description or "source"}
                self._emit(
                    stream_dims
                    | {"metric": "stream_records", "value": int(src.numInputRows or 0)}
                )
                if self.granularity == "shard":
                    start = _offsets(src.startOffset) or {}
                    end = _offsets(src.endOffset)
                    if end:
                        for shard_id, off in end.items():
                            key = (qid, str(src.description), str(shard_id))
                            m = stream_dims | {
                                "metric": "shard_position",
                                "shard_id": str(shard_id),
                                "position": off,
                            }
                            prev = start.get(shard_id)
                            if not isinstance(prev, int):
                                prev = self._last_end.get(key)
                            # numeric offsets (replay source row indexes)
                            # also yield an exact per-shard record delta
                            if isinstance(off, int) and isinstance(prev, int):
                                m["value"] = off - prev
                            if isinstance(off, int):
                                self._last_end[key] = off
                            self._emit(m)

        # pit stop: overall records/sec since start, every upload delay
        # (SimpleKinesisConsumer.scala:207-217)
        self._totals[qid] = self._totals.get(qid, 0) + n
        now = self._clock()
        last = self._last_pitstop.setdefault(qid, now)
        if (now - last) * 1000.0 >= self.upload_delay_millis:
            elapsed = max(now - self._started.get(qid, now), 1e-9)
            self._emit(
                base
                | {
                    "metric": "pitstop_records_per_sec",
                    "value": round(self._totals[qid] / elapsed, 1),
                    "total_records": self._totals[qid],
                    "elapsed_sec": round(elapsed, 1),
                }
            )
            self._last_pitstop[qid] = now

    def onQueryTerminated(self, event) -> None:
        qid = str(event.id)
        if self.level == "none":
            return
        elapsed = max(self._clock() - self._started.get(qid, self._clock()), 1e-9)
        self._emit(
            {
                "namespace": self.namespace,
                "query_id": qid,
                "metric": "query_terminated",
                "total_records": self._totals.get(qid, 0),
                "records_per_sec": round(self._totals.get(qid, 0) / elapsed, 1),
                "elapsed_sec": round(elapsed, 1),
                "error": getattr(event, "exception", None),
            }
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover — timing-dependent
        pass
