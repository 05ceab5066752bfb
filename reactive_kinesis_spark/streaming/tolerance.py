"""Tolerate-or-halt DLQ operator (B3–B5/L3 in SURVEY.md §2.1) — the one
genuinely non-built-in semantic in the reference.

Reference behavior (consumer/ConsumerWorker.scala:396-414): after retries,
if the unconfirmed fraction of a batch is ≤ ``failureTolerancePercentage``
(reference.conf:424-430, default 0.25%), the worker *pretends* they were
confirmed — checkpoints past them and continues; otherwise it emits
``ConsumerWorkerFailure`` and shuts the shard down. Per-record skips
(B3, ConsumerWorker.scala:104-110) also advance the checkpoint.

Spark restatement: per micro-batch, rows failing a user predicate go to a
dead-letter sink when within tolerance (batch still commits ⇒ checkpoint
advances past them — B3's skip semantics); beyond tolerance the batch
raises, Spark retries it (B4 analog: spark.task.maxFailures + query
restart), and the query terminates with the error (L3's escalation).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


class ToleranceExceededError(RuntimeError):
    """Raised when a micro-batch's failure fraction exceeds tolerance —
    the engine's ``ConsumerWorkerFailure`` (ConsumerWorker.scala:408-414)."""

    def __init__(self, batch_id: int, failed: int, total: int, tolerance_pct: float):
        self.batch_id, self.failed, self.total = batch_id, failed, total
        self.tolerance_pct = tolerance_pct
        super().__init__(
            f"batch {batch_id}: {failed}/{total} failed rows "
            f"({100.0 * failed / max(total, 1):.3f}% > tolerance {tolerance_pct}%)"
        )


def split_by_predicate(df: DataFrame, ok: Column) -> tuple[DataFrame, DataFrame]:
    """(good, bad) split on a predicate column; null predicate counts bad."""
    good = df.where(ok)
    bad = df.where(~F.coalesce(ok, F.lit(False)))
    return good, bad


def tolerant_foreach_batch(
    ok: Column,
    process: Callable[[DataFrame, int], None],
    dlq: Callable[[DataFrame, int], None] | None = None,
    tolerance_pct: float = 0.25,
    failed_message_retries: int = 1,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function with retry-then-tolerate-or-halt
    semantics.

    ``ok``: predicate marking a row as successfully processable;
    ``process``: sink for good rows; ``dlq``: sink for tolerated bad rows
    (defaults to dropping them, which is exactly the reference's skip);
    ``tolerance_pct``: max % of bad rows per batch before halting;
    ``failed_message_retries``: before tolerance accounting, re-evaluate
    ``ok`` on ONLY the failed subset up to this many times, promoting rows
    that succeed on retry into the good set — the reference's in-batch
    retry of unconfirmed events (consumer/ConsumerWorker.scala:385-394;
    default 1 mirrors ``failed-message-retries``, reference.conf:419-422;
    behavior matrix ConsumerWorkerSpec.scala:302-461).

    The retry rule: only a non-deterministic ``ok`` is retried. Spark
    promises a deterministic expression the same answer on the same row,
    so retrying one can never promote a row; its determinism is read once,
    from the resolved expression, and cached. A predicate whose failures
    are transient (a flaky external lookup in a UDF) must therefore be
    marked ``asNondeterministic()`` to get its in-batch retries.

    Each evaluation round runs ONE Spark job: the flagged rows are
    observed (row and failure counts) and persisted, and a ``noop`` write
    materializes the cache while the observation counts it. The predicate
    is therefore evaluated exactly once per round, so a non-deterministic
    predicate cannot give inconsistent answers between the good/bad
    splits of one round. A zero-failure batch costs one job before
    ``process`` runs; each retry round of a non-deterministic predicate
    adds one.

    The halt raises before either sink runs. Within tolerance, a batch
    with failures runs ``dlq`` on a helper thread while ``process`` runs
    on the caller's: both read the same pinned rows, both are awaited
    before the batch returns (the first error is re-raised), and there is
    no ordering between them — ``foreachBatch`` is at-least-once and
    replays a failed batch whole, so the sinks must be idempotent anyway.
    """
    deterministic: list[bool] = []  # cached once per wrapper

    def is_deterministic(df: DataFrame) -> bool:
        if not deterministic:
            resolved = df.select(ok.alias("__ok"))._jdf.queryExecution().analyzed()
            deterministic.append(bool(resolved.expressions().head().deterministic()))
        return deterministic[0]

    def run(batch_df: DataFrame, batch_id: int) -> None:
        pinned: list[DataFrame] = []

        def flag(df: DataFrame) -> tuple[DataFrame, int, int]:
            """Evaluate the predicate once, pinned: (flagged, total, failed)."""
            obs = Observation()
            flagged = (
                df.withColumn("__ok", F.coalesce(ok, F.lit(False)))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("total"),
                    F.sum(F.when(F.col("__ok"), 0).otherwise(1)).alias("failed"),
                )
                .persist()
            )
            pinned.append(flagged)
            flagged.write.format("noop").mode("overwrite").save()
            counts = obs.get
            return flagged, counts["total"] or 0, counts["failed"] or 0

        try:
            flagged, total, failed = flag(batch_df)
            good = flagged.where(F.col("__ok")).drop("__ok")
            bad = flagged.where(~F.col("__ok")).drop("__ok")
            retry = failed and not is_deterministic(batch_df)
            for _ in range(failed_message_retries if retry else 0):
                if not failed:
                    break
                reflagged, _, failed = flag(bad)
                good = good.union(reflagged.where(F.col("__ok")).drop("__ok"))
                bad = reflagged.where(~F.col("__ok")).drop("__ok")
            if total and 100.0 * failed / total > tolerance_pct:
                raise ToleranceExceededError(batch_id, failed, total, tolerance_pct)
            if failed and dlq is not None:
                _beside(
                    batch_df.sparkSession,
                    lambda: dlq(bad, batch_id),
                    lambda: process(good, batch_id),
                )
            else:
                process(good, batch_id)
        finally:
            for df in pinned:
                df.unpersist()

    return run


def _beside(session, side: Callable[[], None], main: Callable[[], None]) -> None:
    """Run ``side`` on a helper thread while ``main`` runs on this one.

    The helper inherits this thread's Spark job group, local properties
    and tags, so a stopping query cancels its jobs too. Both are awaited
    and the first error raised is re-raised; the helper never outlives
    the call.
    """
    errors: list[BaseException] = []

    def attempt(fn: Callable[[], None]) -> None:
        try:
            fn()
        except BaseException as e:  # re-raised by the caller below
            errors.append(e)

    helper = threading.Thread(
        target=inheritable_thread_target(session)(attempt), args=(side,), daemon=True
    )
    helper.start()
    try:
        attempt(main)
    finally:
        helper.join()
    if errors:
        raise errors[0]


class QualityGateError(RuntimeError):
    """A micro-batch failed the constraint suite and halt_on_fail is set."""

    def __init__(self, batch_id: int, failed_checks: list):
        self.batch_id = batch_id
        self.failed_checks = failed_checks
        names = ", ".join(
            f"{r['check_name']}({r['column_name']})={r['violations']}"
            for r in failed_checks
        )
        super().__init__(f"batch {batch_id} failed quality gate: {names}")


def quality_gate_foreach_batch(
    checks: dict,
    process: Callable[[DataFrame, int], None],
    quarantine: Callable[[DataFrame, int], None] | None = None,
    halt_on_fail: bool = False,
    on_report: Callable[[list, int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Batch-level admission control: run the declarative constraint
    suite (:func:`operators.quality.check_constraints`; ``checks`` are
    its keyword arguments) on every micro-batch and gate the WHOLE batch
    — the coarse-grained companion to :func:`tolerant_foreach_batch`'s
    per-record skip/DLQ (reference analog: the tolerance layer halts on
    exceeded per-record failure rates; this halts/quarantines on suite
    failures like schema regressions or broken referential integrity,
    which are batch-shaped, not record-shaped).

    On a failing suite: raise :class:`QualityGateError` if
    ``halt_on_fail`` (stops the query — operator intervention), else
    route the batch to ``quarantine`` (or drop it if None). ``on_report``
    receives the full check report (a tiny list — one row per check) for
    every batch, pass/fail — the metrics feed.

    The batch is persisted across the two consumptions (check pass +
    sink) so the source isn't re-read.
    """

    def run(batch_df: DataFrame, batch_id: int) -> None:
        from reactive_kinesis_spark.operators.quality import check_constraints

        pinned = batch_df.persist()
        try:
            report = [r.asDict() for r in check_constraints(pinned, **checks).collect()]
            if on_report is not None:
                on_report(report, batch_id)
            failed = [r for r in report if not r["passed"]]
            if failed:
                if halt_on_fail:
                    raise QualityGateError(batch_id, failed)
                if quarantine is not None:
                    quarantine(pinned, batch_id)
                return
            process(pinned, batch_id)
        finally:
            pinned.unpersist()

    return run


class DriftGateError(RuntimeError):
    """A micro-batch's value distribution drifted past the TVD threshold
    and halt_on_drift is set."""

    def __init__(self, batch_id: int, tvd: float, threshold: float):
        self.batch_id = batch_id
        self.tvd = tvd
        self.threshold = threshold
        super().__init__(
            f"batch {batch_id} drifted: TVD {tvd:.4f} > threshold {threshold:.4f}"
        )


def drift_gate_foreach_batch(
    reference_cuts: list,
    reference_fracs: list,
    value_col: str,
    process: Callable[[DataFrame, int], None],
    threshold: float = 0.2,
    quarantine: Callable[[DataFrame, int], None] | None = None,
    halt_on_drift: bool = False,
    on_report: Callable[[dict, int], None] | None = None,
    min_rows: int = 1,
) -> Callable[[DataFrame, int], None]:
    """Streaming data-drift gate — the micro-batch twin of
    :func:`operators.quality.distribution_drift` (q125), split the same
    way as the anomaly tier's batch-baseline → stream-scorer pair: the
    expensive reference profile (equi-depth ``reference_cuts`` boundaries
    + ``reference_fracs`` bucket fractions, from
    ``distribution_drift``'s ref side or a profiling batch job) is
    computed ONCE offline; each micro-batch then pays one narrow
    bucket-assignment pass + one tiny count aggregate, and its
    total-variation distance against the reference decides admission.
    The stream side never shuffles more than ``len(cuts)+1`` count rows.

    Gate semantics mirror :func:`quality_gate_foreach_batch`:
    ``TVD > threshold`` ⇒ raise :class:`DriftGateError` if
    ``halt_on_drift`` (operator intervention), else ``quarantine`` (or
    drop). ``on_report`` receives ``{"tvd": .., "n": .., "fracs": [..]}``
    every batch — the metrics feed. Batches with fewer than ``min_rows``
    non-null values pass through ungated (a 3-row batch's empirical
    distribution is noise, not drift).
    """
    if len(reference_fracs) != len(reference_cuts) + 1:
        raise ValueError(
            f"need len(cuts)+1 fractions: {len(reference_cuts)} cuts, "
            f"{len(reference_fracs)} fracs"
        )
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    cuts = [float(c) for c in reference_cuts]
    fracs = [float(f) for f in reference_fracs]

    def run(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        pinned = batch_df.persist()
        try:
            v = pinned.select(F.col(value_col).alias("v")).where(
                F.col("v").isNotNull()
            )
            bucket = F.lit(0)
            for c in cuts:
                bucket = bucket + F.when(F.col("v") > F.lit(c), 1).otherwise(0)
            counts = {
                r["bucket"]: r["n"]
                for r in v.select(bucket.alias("bucket"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n = sum(counts.values())
            if n < min_rows:
                if on_report is not None:
                    on_report({"tvd": None, "n": n, "fracs": None}, batch_id)
                process(pinned, batch_id)
                return
            cur = [counts.get(b, 0) / n for b in range(len(fracs))]
            tvd = 0.5 * sum(abs(p - q) for p, q in zip(fracs, cur))
            if on_report is not None:
                on_report({"tvd": tvd, "n": n, "fracs": cur}, batch_id)
            if tvd > threshold:
                if halt_on_drift:
                    raise DriftGateError(batch_id, tvd, threshold)
                if quarantine is not None:
                    quarantine(pinned, batch_id)
                return
            process(pinned, batch_id)
        finally:
            pinned.unpersist()

    return run
