"""``query_headline``: six of the engine's headline queries over seeded
synthetic tables, each result checked against the query's DuckDB oracle
outside the timed region.

The tables follow the schemas of the engine's star schema plus its
``events``, ``documents`` and ``embeddings`` tables (see ``FIXTURES.md``) at
the row counts of scale factor 0.01, generated from ``--seed`` into the
run's work directory.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from decimal import Decimal

import numpy as np

from perfbench.stats import HostWindow, measure_windows, quiet
from perfbench.trace import JobGroupStats

#: Six of the engine's 29 headline queries, one per operator family: scan
#: and grouped aggregation, join with top-k, window, event-time window,
#: exact dedup, text explode with top-k. Warm, one pass takes about 5 s on
#: 4 cores; all 29 take about 30 s, which a benchmark run cannot afford.
#: Owned here, not imported from ``bench.py``, so an edit there cannot
#: change what this workload measures.
HEADLINE = (
    "q01_pricing_summary",
    "q03_join_agg_topk",
    "q08_window_topk_per_group",
    "q17_events_hourly_window",
    "q21_dedup_exact",
    "q71_vocabulary_topk",
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: untimed passes before the measured ones: the first runs on a cold JVM,
#: and pass time reaches its plateau on the second
WARM_PASSES = 2

#: scale factor 0.01 row counts
ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}

_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window join small big order data column query "
          "customer stream group filter vector").split()
#: share of documents that are light edits of an earlier one, so the
#: dedup and span queries have near-duplicates to find
_NEAR_DUP_SHARE = 0.05


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def generate_tables(out_dir: str, seed: int) -> None:
    """Write the ten tables as one parquet file each under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = ROWS
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {"c_custkey": np.arange(n["customer"], dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n["customer"]),
                     "c_mktsegment": segments[rng.integers(0, 5, n["customer"])]}
    t["supplier"] = {"s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n["supplier"])}
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = {"p_partkey": pk,
                 "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n["part"])], " "),
                                       noun[rng.integers(0, 8, n["part"])]),
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                 "p_type": types[rng.integers(0, 6, n["part"])],
                 "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {"o_orderkey": np.arange(n["orders"], dtype=np.int64),
                   "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
                   "o_totalprice": money(1000, 500000, n["orders"]),
                   "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
                   "o_orderpriority": prio[rng.integers(0, 5, n["orders"])]}
    m = n["lineitem"]
    t["lineitem"] = {"l_orderkey": rng.integers(0, n["orders"], m),
                     "l_partkey": rng.integers(0, n["part"], m),
                     "l_suppkey": rng.integers(0, n["supplier"], m),
                     "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                     "l_extendedprice": money(900, 105000, m),
                     "l_discount": rng.integers(0, 11, m) / 100.0,
                     "l_tax": rng.integers(0, 9, m) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
                     "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04")}
    e = n["events"]
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e)) + start_us
    t["events"] = {"event_id": np.arange(e, dtype=np.int64),
                   "ts": ts.astype("datetime64[us]"),
                   "user_id": rng.integers(0, 150, e),
                   "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, e)],
                   "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < _NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    langs = np.array(["en"] * 4 + ["de", "es", "fr", "zh"])
    t["documents"] = {"doc_id": np.arange(n["documents"], dtype=np.int64),
                      "text": texts,
                      "lang": langs[rng.integers(0, len(langs), n["documents"])],
                      "source": [f"src{i % 20}" for i in range(n["documents"])],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    vec = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(n["embeddings"], dtype=np.int64),
                       "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                       "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32)}
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for name in TABLES:
        pq.write_table(pa.table(t[name]), os.path.join(out_dir, f"{name}.parquet"))


# -- result comparison ------------------------------------------------------


def _cell(v):
    """One result cell → a comparable value: numbers as float, sequences
    as tuples, timestamps without zone, everything else as str."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
        v = v.replace(tzinfo=None)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return str(v)


def _sort_key(row):
    return tuple((x is None, type(x).__name__, x if x is not None else 0) for x in row)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def results_match(columns: list[str], rows: list, want) -> bool:
    """Order-insensitive comparison of collected Spark rows with a DuckDB
    result (pandas frame), matching columns by name."""
    if sorted(columns) != sorted(want.columns) or len(rows) != len(want):
        return False
    cols = sorted(columns)
    pos = [columns.index(c) for c in cols]
    got = sorted((tuple(_cell(r[i]) for i in pos) for r in rows), key=_sort_key)
    exp = sorted(
        (tuple(_cell(v) for v in rec) for rec in want[cols].itertuples(index=False, name=None)),
        key=_sort_key,
    )
    return all(all(_close(a, b) for a, b in zip(g, w)) for g, w in zip(got, exp))


def oracle_failures(tables_dir: str, results: dict[str, tuple[list[str], list]], registry) -> list[str]:
    """Names of queries whose rows differ from their DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name in TABLES:
            path = os.path.join(tables_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for name, (columns, rows) in results.items():
            want = con.execute(registry[name].oracle).fetchdf()
            if not results_match(columns, rows, want):
                bad.append(name)
        return bad
    finally:
        con.close()


# -- workload entry points -----------------------------------------------------


def _run_pass(run, registry, traced: bool) -> tuple[dict[str, float], dict, dict]:
    """One pass over the headline: per-query seconds (plan build + collect),
    collected results, and (traced) per-layer sums."""
    spark = run.spark
    sc = spark.sparkContext
    tables = run.state["tables"]
    times, results = {}, {}
    layers = {"queries.plan_build_s": 0.0, "catalyst.analysis_ms": 0.0,
              "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0,
              "execution.collect_s": 0.0, "execution.jobs": 0, "execution.stages": 0,
              "execution.tasks": 0, "execution.shuffle_write_bytes": 0,
              "execution.spill_bytes": 0}
    groups = []
    for name in HEADLINE:
        spark.catalog.clearCache()
        if traced:
            group = f"perfbench-{name}-{len(run.spans.records)}"
            groups.append(group)
            sc.setJobGroup(group, name)
        with run.spans.span("query", query=name):
            t0 = time.perf_counter()
            with run.spans.span("queries.plan_build"):
                df = registry[name].fn(spark, tables)
            t1 = time.perf_counter()
            if traced:
                with run.spans.span("catalyst"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                phases = qe.tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    got = phases.get(phase)
                    if got.isDefined():
                        layers[f"catalyst.{phase}_ms"] += got.get().durationMs()
            t2 = time.perf_counter()
            with run.spans.span("execution.collect"):
                rows = df.collect()
            t3 = time.perf_counter()
        times[name] = t3 - t0
        results[name] = (df.columns, rows)
        layers["queries.plan_build_s"] += t1 - t0
        layers["execution.collect_s"] += t3 - t2
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        stats = JobGroupStats(spark)
        for group in groups:
            for k, v in stats.collect(group).items():
                layers[f"execution.{k}"] += v
    return times, results, layers


def setup(run) -> None:
    from reactive_kinesis_spark.tables import clear_table_memo

    tables = os.path.join(run.work, "tables")
    generate_tables(tables, run.seed)
    clear_table_memo()
    run.state["tables"] = tables


def warm(run) -> None:
    """The untimed warm passes, so JIT, codegen and file listing costs are
    paid before timing."""
    from reactive_kinesis_spark.queries import load_all

    run.state["registry"] = load_all()
    for _ in range(WARM_PASSES):
        _, results, _ = _run_pass(run, run.state["registry"], traced=False)
    run.state["warm_rows"] = {name: len(rows) for name, (_, rows) in results.items()}


def measure(run, seconds: int, traced: bool) -> dict:
    """Passes over the headline until ``seconds`` have passed and at least
    three ran. A query's time is its median over the quiet passes
    (``stats.quiet``): throughput is queries ÷ the sum of those medians,
    and the latency percentiles are taken over them. Every query's rows are
    checked after the timed passes."""
    registry = run.state["registry"]

    def one_pass() -> dict:
        with HostWindow() as host:
            times, results, layers = _run_pass(run, registry, traced)
        return {"times": times, "results": results, "layers": layers, "host": host}

    with HostWindow() as host:
        passes = measure_windows(one_pass, seconds)
    bad = set(oracle_failures(run.state["tables"], passes[0]["results"], registry))
    for p in passes:
        bad.update(n for n, (_, rows) in p["results"].items() if len(rows) != run.state["warm_rows"][n])
    calm = quiet(passes)
    per_query = np.array([np.median([p["times"][n] for p in calm]) for n in HEADLINE])
    out = {
        "attempted": len(HEADLINE) * len(passes),
        "failed": len(bad),
        "throughput_per_s": len(HEADLINE) / float(per_query.sum()),
        "latency_p50_ms": float(np.percentile(per_query, 50)) * 1000.0,
        "latency_p90_ms": float(np.percentile(per_query, 90)) * 1000.0,
        "latency_p99_ms": float(np.percentile(per_query, 99)) * 1000.0,
        "cpu_ms_per_item": host.tree_cpu_s * 1000.0 / (len(HEADLINE) * len(passes)),
        "validity": {"pass_s": [sum(p["times"].values()) for p in passes],
                     "failed_queries": sorted(bad), "steal_cores": host.steal_cores,
                     "window_steal_cores": [p["host"].steal_cores for p in passes],
                     "quiet_windows": len(calm)},
    }
    if traced:
        layers = {k: sum(p["layers"][k] for p in passes) / len(passes) for k in passes[0]["layers"]}
        layers["headline.headline_s"] = float(per_query.sum())
        out["layers"] = layers
    return out
