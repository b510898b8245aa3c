"""Driver-mimicking correctness gate: every oracle-backed query in
``__spark_entry__`` must match its DuckDB oracle at sf0.001 (row count,
schema names, order-insensitive values). The similarity keys whose float
sums run in a different order from the oracle's (batched matmul vs
sequential SQL sums) are also checked at sf0.01, whose embeddings table is
a second, independently generated sample."""

from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from cpp_paddle_ocr_spark.operators import clustering, similarity  # noqa: E402
from oracle_utils import compare, duck_con  # noqa: E402

SF = "/root/testdata/sf0.001"
SF_LARGER = str(pathlib.Path(SF).with_name("sf0.01"))

_ORACLES = entrymod.oracle_sql()
_QUERIES = entrymod.queries()

#: the names bench.py times for these keys (module, attribute)
_BENCHED = {
    "sim_ivf_ann": (similarity, "q_ivf_ann_batched"),
    "sim_knn_join": (similarity, "q_knn_join_batched"),
    "sim_knn_multitable": (similarity, "q_knn_join_multitable_batched"),
    "sim_semantic_clusters": (clustering, "q_semantic_clusters_batched"),
}

_CASES = [pytest.param(name, SF, id=name) for name in sorted(_ORACLES)] + [
    pytest.param(name, SF_LARGER, id=f"{name}-sf0.01") for name in sorted(_BENCHED)
]


@pytest.fixture(scope="module")
def cons():
    opened: dict = {}

    def get(sf_dir: str):
        if sf_dir not in opened:
            opened[sf_dir] = duck_con(sf_dir)
        return opened[sf_dir]

    yield get
    for c in opened.values():
        c.close()


@pytest.mark.parametrize("name, sf_dir", _CASES)
def test_oracle_parity(spark, cons, name, sf_dir):
    assert name in _QUERIES, f"oracle without query: {name}"
    compare(_QUERIES[name](spark, sf_dir), cons(sf_dir), _ORACLES[name])


@pytest.mark.parametrize("name", sorted(_BENCHED))
def test_benched_query_is_oracle_checked_query(name):
    module, attr = _BENCHED[name]
    assert getattr(module, attr) is module.QUERIES[name]
    assert _QUERIES[name] is module.QUERIES[name]


def test_rows_only_queries_run(spark):
    for name in sorted(set(_QUERIES) - set(_ORACLES)):
        df = _QUERIES[name](spark, SF)
        assert df.count() > 0, name


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert [f.name for f in out.schema.fields] == [
        "url", "success", "error", "n_blocks", "extracted_text",
    ]
