"""Catalog of the driver's synthetic tables (TESTDATA.md).

All readers go through :func:`load_table` so filters/projections written on
top of them reach the parquet scan (predicate pushdown + column pruning are
preserved — we never cache or materialize here).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor the
#: reference targets (region/nation are bounded by geography; supplier/part/
#: customer are broadcastable at test SFs — joins take an explicit
#: ``broadcast()`` hint only for the bounded ones and let AQE decide for the
#: rest, which is the correct posture at 100 TB).
BROADCAST_ALWAYS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: SQL confs every query needs, settable at runtime — applied defensively so
#: the engine works on ANY caller-provided SparkSession (the driver builds
#: its own vanilla session; session.get_spark also sets these at build time).
RUNTIME_CONFS = {
    # events.parquet uses TIMESTAMP(NANOS); read as long, converted below.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # plain timestamp[us] parquet (no UTC flag) must scan as TimestampType,
    # not NTZ — keeps ts filters pushed down AND matches the documented
    # schema directly (the _normalize_schema cast is then a no-op fallback
    # for caller sessions where this conf cannot be set).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # deterministic timestamp rendering, matches the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — session.get_spark covers it


#: Documented column types per TESTDATA.md (what every query is written
#: against).  The driver has regenerated the testdata with different physical
#: timestamp encodings across rounds (TIMESTAMP(NANOS) in r1-r2 → plain
#: timestamp[us]/NTZ in r3, which silently broke q20); ``load_table`` coerces
#: known-equivalent drift (NTZ↔LTZ, nanos-as-long↔timestamp, date↔timestamp)
#: and raises loudly on anything else so upstream type changes can never again
#: surface mid-query as a DATATYPE_MISMATCH.
_EXPECTED: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def _normalize_schema(df: DataFrame, name: str) -> DataFrame:
    """Coerce known-equivalent physical-type drift to the documented schema.

    Casts are applied only where lossless and semantically identity under the
    pinned UTC session timezone; anything unexpected raises with a message
    naming the table/column so a testdata regeneration fails at load, not
    deep inside a query plan.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DateType,
        LongType,
        TimestampNTZType,
        TimestampType,
    )

    expected = _EXPECTED[name]
    actual = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in expected if c not in actual]
    if missing:
        raise ValueError(f"table {name!r} missing expected columns {missing}; has {sorted(actual)}")
    fixes: list[tuple[str, object]] = []
    for col, want in expected.items():
        have = actual[col]
        if have.simpleString() == want:
            continue
        if want == "timestamp":
            if isinstance(have, TimestampNTZType):
                # Parquet timestamp[us] without UTC adjustment reads as NTZ in
                # Spark 4; with session tz pinned to UTC the cast is identity
                # on the stored micros and matches the DuckDB oracle.
                fixes.append((col, F.col(col).cast(TimestampType())))
            elif isinstance(have, LongType):
                # Legacy TIMESTAMP(NANOS) surfaced as long via the pinned
                # nanosAsLong conf; data is µs-resolution so ns→µs is lossless.
                fixes.append((col, F.timestamp_micros(F.expr(f"{col} div 1000"))))
            elif isinstance(have, DateType):
                fixes.append((col, F.col(col).cast(TimestampType())))
            else:
                raise ValueError(
                    f"table {name!r} column {col!r}: cannot coerce {have.simpleString()} "
                    f"to timestamp — testdata type drifted beyond known-equivalent forms"
                )
        else:
            raise ValueError(
                f"table {name!r} column {col!r}: expected {want}, got {have.simpleString()} "
                f"— testdata type drifted; update tables._EXPECTED if intentional"
            )
    for col, expr in fixes:
        df = df.withColumn(col, expr)
    return df


#: Fact-class tables (scan feeds real per-row compute) and the hash key a
#: deficient-layout repartition spreads them by. Keys are each table's most
#: common join/group key so the injected partitioning is REUSABLE downstream
#: (a join on l_orderkey against orders hash-partitioned on o_orderkey with
#: the same partition count needs no further exchange). Dimension tables
#: (region/nation/customer/supplier/part) are never repartitioned — they are
#: broadcast-sized and an exchange would be pure overhead.
_FACT_SCAN_KEYS: dict[str, str] = {
    "lineitem": "l_partkey",
    "orders": "o_custkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: (abs path, mtime_ns, size) -> (total parquet row-group count, total
#: UNCOMPRESSED row-group bytes). Row groups are the unit of scan
#: parallelism: Spark's byte-range splits cannot divide a row group, so a
#: file with one row group is ONE scan task no matter what
#: ``maxPartitionBytes`` says. The uncompressed byte total sizes the
#: injected repartition (see :func:`_parallelize_deficient_scan`).
#: Staleness note: the key is the stat of the top-level path — rewriting a
#: member file IN PLACE inside a directory (same dir mtime/size) serves a
#: stale entry. Accepted: testdata is immutable per round, and a wrong
#: count only mis-sizes an optimization hint, never results; callers that
#: rewrite a table mid-session should call :func:`clear_table_memo`.
_LAYOUT_CACHE: dict[tuple[str, int, int], tuple[int, int]] = {}


def _scan_layout(path: str) -> tuple[int, int]:
    """``(total row groups, total uncompressed bytes)`` across the parquet
    file(s) at ``path`` — the upper bound on native scan parallelism for
    that table, and the size the injected repartition is derived from.
    Recurses into subdirectories so a Hive-partitioned layout is counted,
    not mistaken for an empty (deficient) one. Hidden (``.``) and
    underscore (``_``) directories are pruned unless they are
    ``name=value`` partitions — Spark's own hidden-path rule, so staging
    dirs like ``_temporary`` are skipped while ``_batch_id=3`` counts."""
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    got = _LAYOUT_CACHE.get(key)
    if got is not None:
        return got
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [
                d for d in dirs
                if not d.startswith(".") and (not d.startswith("_") or "=" in d)
            ]
            files += [
                os.path.join(root, f)
                for f in names
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
    else:
        files = [path]
    total_rgs = 0
    total_bytes = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total_rgs += md.num_row_groups
        total_bytes += sum(
            md.row_group(i).total_byte_size for i in range(md.num_row_groups)
        )
    out = (total_rgs, total_bytes)
    _LAYOUT_CACHE[key] = out
    return out


#: Target UNCOMPRESSED bytes per injected partition. Sizes the deficient-
#: layout repartition to the table instead of raw ``defaultParallelism``
#: (the r14 shape): a 20k-row events table no longer becomes 32 near-empty
#: shuffle partitions — the round-14 driver's own scaling block showed the
#: tiny-input queries running FASTER at 8 cores than 32 from exactly that
#: overhead. Local default measured at sf0.1 (see OPTIMIZATION_r15.md);
#: production layouts never reach this code path at all (the injection is
#: layout-gated off when row groups >= cores), so the knob only tunes the
#: deficient-layout repair, not any at-scale plan.
def _scan_partition_target_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_SCAN_PARTITION_BYTES", "262144"))


def _parallelize_deficient_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Guide §2.5 "input skew" remedy, made scale-adaptive: when a fact
    table's physical layout cannot feed every core (fewer row groups than
    ``defaultParallelism`` — the single-row-group testdata files are the
    degenerate case: every scan is ONE task and all per-row compute
    serializes on one core before the first exchange), repartition right
    after the read by the table's canonical key. On any production layout
    (row groups >= cores) this is a no-op, so no extra exchange ever
    reaches a 100 TB plan; the condition is derived from the input, not
    tuned to local mode. Hash-on-key rather than round-robin: no
    sort-before-repartition pass (SPARK-23207) and deterministic
    row-to-partition assignment under task retry (SPARK-38388). Filters
    and column pruning still reach the scan through the repartition
    (verified in plans: PushedFilters/ReadSchema unchanged).
    Kill-switch: ``SPARK_GRAFT_SCAN_PARALLELIZE=0``.

    The partition count is DERIVED FROM THE TABLE'S SIZE (r15; guide
    §2.1/§2.5): ``min(defaultParallelism, max(2, ceil(uncompressed_bytes /
    target)))`` — raw ``defaultParallelism`` (the r14 shape) over-
    partitioned small inputs into near-empty shuffle partitions, which the
    r14 driver's scaling block surfaced as sub-second queries running
    faster at 8 cores than 32. Tiny tables now get 2-4 partitions, big
    deficient tables still get every core, and any layout that already
    feeds enough row groups is untouched.
    """
    key = _FACT_SCAN_KEYS.get(name)
    if key is None:
        return df
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism <= 1:
        return df
    try:
        row_groups, total_bytes = _scan_layout(table_path(sf_dir, name))
    except Exception:  # noqa: BLE001 — layout probing is an optimization
        # hint only; any pyarrow/IO failure (ArrowInvalid on an odd file,
        # permissions, ...) must degrade to "no repartition", never fail a
        # load the plain Spark read would have served (r14 ADVICE).
        return df
    if row_groups == 0 or row_groups >= parallelism:
        # zero parquet files found (e.g. an exotic layout the walk cannot
        # see) means "layout unknown" — leave the plan alone
        return df
    parts = min(
        parallelism,
        max(2, -(-total_bytes // max(1, _scan_partition_target_bytes()))),
    )
    if parts <= row_groups:
        return df
    from pyspark.sql import functions as F

    return df.repartition(int(parts), F.col(key))


#: Per-session memo of loaded table frames. A DataFrame is an immutable
#: LAZY plan — memoizing it caches no data (every action still computes
#: from the parquet input; ``bench.py`` clears the data cache between timed
#: runs and these entries are unaffected because nothing here is persisted).
#: What it removes is the repeated per-call overhead of
#: ``spark.read.parquet`` (file listing + footer/schema read), the runtime
#: conf round-trips, and schema normalization — measured 0.1-0.5 s of every
#: query's wall clock at sf0.1 (py4j + analysis), the same work a catalog
#: table's cached file index removes on a real deployment. Keyed weakly by
#: session so a stopped session's entries die with it.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str, bool], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def clear_table_memo() -> None:
    """Invalidate the per-session table memo AND the parquet layout cache.

    The documented hook (r14 ADVICE) for callers that regenerate or rewrite
    ``sf_dir`` contents within a live session: the memo pins each table's
    file listing/schema at first read, and the layout cache keys on the
    top-level path stat (an in-place member-file rewrite does not change
    either), so without this call such a caller would be served a stale
    plan. Normal benchmark/driver runs never need it — testdata is
    immutable for the life of a session."""
    _TABLE_MEMO.clear()
    _LAYOUT_CACHE.clear()


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = True
) -> DataFrame:
    """Load a catalog table. ``parallelize=False`` opts this call out of the
    deficient-layout repartition — for consumers whose downstream is a
    narrow pass over heavy payloads (the media/blob queries: an injected
    exchange would shuffle the payload bytes for no parallel-compute gain,
    violating the engine's blobs-never-shuffle posture)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    per_session = _TABLE_MEMO.setdefault(spark, {})
    effective = (
        parallelize and os.environ.get("SPARK_GRAFT_SCAN_PARALLELIZE", "1") != "0"
    )
    memo_key = (os.path.abspath(sf_dir), name, effective)
    got = per_session.get(memo_key)
    if got is not None:
        return got
    ensure_runtime_confs(spark)
    df = _normalize_schema(spark.read.parquet(table_path(sf_dir, name)), name)
    if effective:
        df = _parallelize_deficient_scan(spark, df, sf_dir, name)
    per_session[memo_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
