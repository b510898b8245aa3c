"""The fused extraction operator: ``extract(df) -> df``.

The ``processRequest`` analog (``src/ocr_worker.cpp:213-311``) as one
``mapInPandas`` pass over a SINGLE source scan:

* one JVM-side projection classifies every page into a route
  (empty / oversized / invalid-utf8 / work) and **blanks the html bytes of
  every guard row** — the Spark-native form of the reference rejecting
  oversized requests at the pipe buffer before they reach a worker (P6,
  ``src/ocr_ipc_service.cpp:222-239``). Guard rows therefore cross the
  shuffle and Arrow channel as a few bytes of metadata, never as payload,
  and the source is scanned exactly once (an earlier union-of-branches
  design scanned it 4×; see BENCH/BASELINE.md);
* optional single shuffle: salted url-hash repartition spreads pages —
  including the rare multi-MB ones — uniformly, which measured faster than
  confining big pages to dedicated range partitions (they serialize there);
* ``mapInPandas`` — the only Python hop. Incoming Arrow batches are
  re-sliced to a byte budget so a run of adjacent big pages can never blow
  up executor memory (X3/X10 batch discipline);
* error rows are built from the route metadata with byte-identical messages
  to the pure core, so golden outputs match whichever path answered.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import MAX_HTML_BYTES
from ..core.pipeline import ROUTE_WORK, extract_batch_routed
from ..plans.partitioning import salted_url_partitioning
from ..schemas import OUTPUT_SCHEMA

#: Max html bytes handed to one ``extract_batch_routed`` call (Python-side
#: re-slicing of Arrow batches; bounds peak extraction memory per worker).
BATCH_BYTE_BUDGET = 64 * 1024 * 1024


def _route_col():
    size = F.length(F.col("html"))
    return (
        F.when(F.col("html").isNull() | (size == 0), F.lit(0))
        .when(size > MAX_HTML_BYTES, F.lit(1))
        .when(~F.expr("is_valid_utf8(html)"), F.lit(2))
        .otherwise(F.lit(3))
    )


def _slice_budget(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
    sizes = pdf["html_size"].fillna(0)
    if sizes.sum() <= BATCH_BYTE_BUDGET:
        yield pdf
        return
    start, acc = 0, 0
    for i, s in enumerate(sizes.tolist()):
        if acc + s > BATCH_BYTE_BUDGET and i > start:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += s
    if start < len(pdf):
        yield pdf.iloc[start:]


def _extract_fn(metrics: dict | None):
    """Build the mapInPandas payload; ``metrics`` are LongAccumulators (P7)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for whole in batches:
            for pdf in _slice_budget(whole):
                out = extract_batch_routed(
                    pdf["url"].tolist(),
                    pdf["html"].tolist(),
                    pdf["html_size"].tolist(),
                    pdf["route"].tolist(),
                )
                if metrics is not None:
                    metrics["n_pages"].add(len(out))
                    metrics["n_ok"].add(int(out["success"].sum()))
                    metrics["n_blocks"].add(int(out["n_blocks"].sum()))
                yield out

    return fn


def make_metrics(spark) -> dict:
    """Service-stats accumulators (P7, ``src/ocr_ipc_service.cpp:438-448``)."""
    sc = spark.sparkContext
    return {
        "n_pages": sc.accumulator(0),
        "n_ok": sc.accumulator(0),
        "n_blocks": sc.accumulator(0),
    }


def prepare_routed(df: DataFrame) -> DataFrame:
    """Single-scan guard projection: (url, html|NULL, html_size, route)."""
    return df.select(
        "url",
        F.col("html"),
        F.coalesce(F.length(F.col("html")), F.lit(0)).alias("html_size"),
        _route_col().alias("route"),
    ).select(
        "url",
        F.when(F.col("route") == ROUTE_WORK, F.col("html")).alias("html"),
        "html_size",
        "route",
    )


def extract(
    df: DataFrame,
    num_partitions: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Run the full det → cls → rec cascade over a documents DataFrame.

    ``df`` needs columns ``url`` (string) and ``html`` (binary); extra columns
    are pruned before the Python hop (column pruning stays effective, X12).
    ``num_partitions`` enables the salted repartition (one shuffle); leave
    ``None`` to inherit the source partitioning (no shuffle at all).
    """
    routed = prepare_routed(df)
    if num_partitions is not None:
        routed = salted_url_partitioning(routed, num_partitions)
    return routed.mapInPandas(_extract_fn(metrics), OUTPUT_SCHEMA)
