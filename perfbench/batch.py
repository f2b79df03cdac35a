"""The ``batch_catalog`` workload: registry queries (``plans.queries_map``)
over seeded fixtures into the ``noop`` sink, after one untimed pass that
checks every result against its DuckDB oracle."""

from __future__ import annotations

import hashlib
import os
import time

from common import Engine, Result, Tracer, describe, median, percentile
import fixtures

RELATIONAL = [
    "q_windowed_count_keyed",
    "q_store_range_fetch",
    "q_tpch_q3",
    "q_tpch_q9",
    "q_tpch_q18",
    "q_window_analytics",
]
LLM_OPS = [
    "q_text_stats",
    "q_bm25",
    "q_knn_cosine",
    "q_pagerank",
]
QUERIES = RELATIONAL + LLM_OPS
MIN_PASSES = 2


def result_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the values, normalised
    as the repo's Spark-vs-DuckDB comparison does (``tests.oracle_harness``)."""
    from tests.oracle_harness import normalize_rows

    return len(rows), hashlib.sha256(repr(normalize_rows(cols, rows)).encode()).hexdigest()


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    from kafka_streams_spring_cloud_stream_tp1_spark.plans import oracle_sql_map
    from tests.oracle_harness import duckdb_conn

    sql = oracle_sql_map()
    con = duckdb_conn(sf_dir)
    try:
        con.execute("SET threads TO 1")
        out = {}
        for name in names:
            res = con.sql(sql[name])
            out[name] = result_digest(list(res.columns), res.fetchall())
        return out
    finally:
        con.close()


def batch_catalog(engine: Engine, work: str, seed: int, seconds: float, tracer: Tracer, res: Result) -> None:
    from kafka_streams_spring_cloud_stream_tp1_spark.plans import queries_map
    from kafka_streams_spring_cloud_stream_tp1_spark.sources import load_tables

    sf_dir = fixtures.write_tables(os.path.join(work, "fixtures"), seed)
    expected = oracle_digests(sf_dir, QUERIES)
    builders = queries_map()

    def start(spark):
        with tracer.span("sources.load_tables"):
            return load_tables(spark, sf_dir)

    def stop(_tables) -> None:
        pass

    engine.setup(start, stop)
    spark = engine.spark

    # untimed pass: warms the engine up and checks every result
    for name in QUERIES:
        with tracer.span(f"plans.{name}.check"):
            df = builders[name](spark, sf_dir)
            got = result_digest(list(df.columns), [tuple(r) for r in df.collect()])
        res.check(got == expected[name], f"{name}: {got[0]} rows, oracle {expected[name][0]} rows or values differ")

    build: dict[str, list[float]] = {q: [] for q in QUERIES}
    execs: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes: list[tuple[float, float]] = []
    deadline = time.perf_counter() + seconds
    # at least MIN_PASSES, so the median has ten samples beyond it
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        for name in QUERIES:
            t0 = time.perf_counter()
            with tracer.span(f"plans.{name}.build"):
                df = builders[name](spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span(f"plans.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build[name].append(t1 - t0)
            execs[name].append(t2 - t1)
        total = {q: build[q][-1] + execs[q][-1] for q in QUERIES}
        passes.append((sum(total[q] for q in RELATIONAL), sum(total[q] for q in LLM_OPS)))

    all_times = [b + e for q in QUERIES for b, e in zip(build[q], execs[q])]
    relational_s = median([p[0] for p in passes])
    llm_s = median([p[1] for p in passes])
    res.e2e = {
        "throughput_per_s": len(all_times) / sum(all_times),
        "latency_s": percentile(all_times, 0.5),
    }
    res.report += [
        f"{'relational_s':<28} {relational_s:.4f} s  [n={len(passes)} passes, {len(RELATIONAL)} queries]",
        f"{'llm_ops_s':<28} {llm_s:.4f} s  [n={len(passes)} passes, {len(LLM_OPS)} queries]",
        describe("query_latency_p50_s", all_times, 0.5, "s"),
    ]
    res.layers["sources.load_tables_ms"] = tracer.median_ms("sources.load_tables")
    for q in QUERIES:
        res.layers[f"plans.{q}.build_ms"] = median(build[q]) * 1000.0
        res.layers[f"plans.{q}.exec_s"] = median(execs[q])
