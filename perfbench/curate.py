"""The ``curate`` workload: a list of ``__spark_entry__.queries()`` keys over
a seeded table, each written to Spark's ``noop`` sink, and their DuckDB
oracles from ``oracle_sql()``.

Looking keys up through ``queries()`` times exactly the path the oracle
checks. None of these keys starts a Python worker: the workload measures
the ``operators.*`` modules and ``common.load``'s parallelism floor (the
generated table is one parquet file, so the floor fires).
"""

from __future__ import annotations

import pathlib
import time

#: One key per operator module, each loading ``documents``.
#: ``graph_pagerank`` (21 stages) and ``sim_knn_join`` are left out: with
#: them a pass took three times as long, and a run set-up about 10 s more.
KEYS = (
    "status_agg",  # relational
    "domain_stats",  # governance
    "fingerprint",  # text_analysis
    "dedup_neardup_increment",  # dedup
)


def _entry():
    import __spark_entry__

    return __spark_entry__


def run_pass(spark, tables: pathlib.Path, on_key=None) -> float:
    """Every key into the noop sink, one after another; returns the wall.
    ``on_key(key, start, end)`` is called after each key."""
    queries = _entry().queries()
    t0 = time.perf_counter()
    for key in KEYS:
        t = time.perf_counter()
        queries[key](spark, str(tables)).write.format("noop").mode("overwrite").save()
        if on_key is not None:
            on_key(key, t, time.perf_counter())
    return time.perf_counter() - t0


def n_rows(tables: pathlib.Path) -> int:
    """Input rows one pass loads: the table, once per key."""
    import pyarrow.parquet as pq

    return len(KEYS) * pq.ParquetFile(tables / "documents.parquet").metadata.num_rows


def oracle_frames(tables: pathlib.Path) -> dict:
    """Each key's ``oracle_sql()`` entry run through DuckDB over the same
    table, as pandas frames."""
    import duckdb

    oracles = _entry().oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        path = tables / "documents.parquet"
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return {key: con.execute(oracles[key]).fetchdf() for key in KEYS}
    finally:
        con.close()


def collect(spark, tables: pathlib.Path) -> dict:
    """Each key's rows as a pandas frame: the warm-up pass, which the
    oracle check then reads."""
    queries = _entry().queries()
    return {key: queries[key](spark, str(tables)).toPandas() for key in KEYS}


def check(got: dict, want: dict) -> tuple[int, int, list[str]]:
    """Each key's rows must equal its oracle's."""
    from perfbench import gate

    problems, failed = [], 0
    for key in KEYS:
        found = gate.compare_frames(got[key], want[key])
        failed += bool(found)
        problems += [f"{key}: {p}" for p in found]
    return len(KEYS), failed, problems
