"""Checkpoint & lifecycle management (C1–C3, L2/L3 in SURVEY.md §2.1).

The reference's async interval checkpointing to DynamoDB
(consumer/CheckpointWorker.scala:117-277) collapses into Structured
Streaming's offset WAL + commit log at ``checkpointLocation``. That log
is also the resume point: a source configured with an initial position
reads it only when no batch has committed, so the checkpoint always wins
(README.md:675-683) without an engine-side rule. The remaining engine
work is *policy*: graceful shutdown (final restart point = last committed
batch, the analog of the forced shutdown checkpoint,
ConsumerWorker.scala:450-499) and lifecycle callbacks replacing
``ConsumerShutdown``/``ConsumerWorkerFailure`` notifications.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener


def has_committed_checkpoint(checkpoint_location: str) -> bool:
    """True iff at least one micro-batch has committed — the 'checkpoint
    exists in DynamoDB' analog."""
    commits = os.path.join(checkpoint_location, "commits")
    return os.path.isdir(commits) and any(
        not n.startswith(".") for n in os.listdir(commits)
    )


def lifecycle_listener(
    on_started: Callable[[str], None] | None = None,
    on_progress: Callable[[object], None] | None = None,
    on_terminated: Callable[[str, str | None], None] | None = None,
) -> StreamingQueryListener:
    """Listener mapping Spark lifecycle events to the reference's processor
    notifications: start ↔ worker init, terminate-with-exception ↔
    ``ConsumerWorkerFailure`` (ConsumerWorker.scala:408-414), clean
    terminate ↔ ``ConsumerShutdown`` (KinesisConsumer.scala:276-307)."""

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            if on_started:
                on_started(str(event.id))

        def onQueryProgress(self, event):
            if on_progress:
                on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if on_terminated:
                on_terminated(str(event.id), event.exception)

    return _L()


def graceful_stop(query: StreamingQuery, timeout_s: float = 60.0) -> None:
    """L2: stop + await — in-flight batch finishes or is abandoned; the last
    *committed* batch is the durable restart point (coarser than the
    reference's mid-batch contiguous-prefix checkpoint B2, but safe: restart
    re-reads at most one batch — the documented at-least-once stance,
    README.md:684-686)."""
    query.stop()
    query.awaitTermination(timeout_s)


def run_pipeline(
    spark: SparkSession,
    df,
    batch_fn: Callable,
    checkpoint_location: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a foreachBatch pipeline with checkpointing — the engine's
    ``KinesisConsumer.start()``. ``available_now=True`` drains what's
    available then stops (the test/replay trigger); pass False for a
    continuous micro-batch query."""
    writer = df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_location
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
