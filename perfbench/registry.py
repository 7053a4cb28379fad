"""The engine's named-query registry, run as a layer probe.

A seeded subset of ``__spark_entry__.queries()`` — spanning every
``plans`` module, and with it ``operators.relational`` and
``operators.sketches`` — runs once through the ``noop`` sink, as the
repository's older ``bench.py`` runs it, over star-schema tables written
by ``gen.star_tables``. Each query's row count rides its own job as an
``observe`` metric and is checked against the query's DuckDB
``oracle_sql()`` twin.

It is a probe inside ``kg_serve``'s traced run rather than a workload of
its own: a benchmark session runs 4 + 22 runs per workload within 57
minutes, and a run of its own would cost about 30 s, most of it session
start and a cold pass. One pass over all
fifty queries takes about 35 s warm and 57 s cold on 4 cores at the
smallest scale, so the subset leaves out the slowest (``q_knn_ivf``'s
cold index build alone takes 6 s; ``kg_serve`` measures IVF search).
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import Result, Tracer

SUITE = (
    # relational_queries (operators.relational, operators.sketches)
    "q_filter_project", "q_agg_basic", "q_join_orders_customer", "q_window_frames",
    "q_approx_sketches",
    # scalar_queries
    "q_project_norm", "q_json_repair", "q_canonicalize_relations",
    # sources_queries, pipeline_queries
    "q_xml_records", "q_pipeline_e2e",
    # graph_queries
    "q_graph_build", "q_two_hop",
    # textdata_queries
    "q_text_quality", "q_quality_filter",
)


def prepare(root: str, seed: int) -> str:
    """Writes the star-schema tables the probe reads; returns their directory."""
    sf_dir = os.path.join(root, "star")
    gen.star_tables(sf_dir, seed)
    return sf_dir


def probe(spark, sf_dir: str, seed: int, tr: Tracer, res: Result) -> None:
    import __spark_entry__
    from big_data___knowledge_graph_construction_with_llm_spark.plans import QUERIES

    registry = __spark_entry__.queries()
    order = list(SUITE)
    random.Random(seed).shuffle(order)
    counts: dict[str, int] = {}
    jobs = 0
    for name in order:
        obs = Observation()
        span = f"plans.{QUERIES[name].__module__.rsplit('.', 1)[-1]}"
        t0 = time.perf_counter()
        res.attempted += 1
        try:
            with tr.span(span):
                registry[name](spark, sf_dir).observe(
                    obs, F.count(F.lit(1)).alias("n")
                ).write.format("noop").mode("overwrite").save()
            counts[name] = obs.get["n"]
        except Exception as exc:  # noqa: BLE001 - a raised query is a failed op
            res.failed += 1
            res.errors.append(f"{name}: {exc!r}"[:300])
        res.info[f"{name}_ms"] = (time.perf_counter() - t0) * 1000
    for sp in tr.spans:
        if sp.name.startswith("plans."):
            jobs += len(spark.sparkContext.statusTracker().getJobIdsForGroup(sp.group))
    res.layer["plans.queries"] = len(order)
    res.layer["plans.jobs_per_query"] = jobs / len(order)
    _check(sf_dir, counts, res)


def _check(sf_dir: str, counts: dict[str, int], res: Result) -> None:
    """Row count of every completed query against its DuckDB twin."""
    import duckdb

    import __spark_entry__

    oracle = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in os.listdir(sf_dir):
            if t.endswith(".parquet"):
                path = os.path.join(sf_dir, t)
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
        for name, n in counts.items():
            want = con.execute(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
            if n != want:
                res.failed += 1
                res.errors.append(f"{name}: {n} rows, oracle {want}")
    finally:
        con.close()
