"""Run every registered query against its DuckDB oracle, mirroring the
driver's CORRECTNESS gate. sf0.001 by default (fast); set
TEST_SF_DIR=/root/testdata/sf0.01 for the driver-scale check."""

from __future__ import annotations

import pytest

from crypto_data_pipeline_with_kafka_spark.plans.registry import all_queries
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare
from tests.plan_checks import python_backed_nodes

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_correct, name):
    """Value parity with the oracle, plus the Python rule: only a query
    tagged ``udf`` may plan a Python exec node or read a Python-built
    RDD (small driver-side relations go through ``local_frame``)."""
    q = QUERIES[name]
    df = q.fn(spark, sf_correct)
    if "udf" not in q.tags:
        python_nodes = python_backed_nodes(df)
        assert not python_nodes, python_nodes
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check (driver's weaker gate)
        assert len(df.schema.fields) > 0
    else:
        compare(df, q.oracle, sf_correct)


def test_every_query_survives_empty_tables(spark, tmp_path_factory):
    """Operational robustness: every registered query runs (returning an
    empty or constant-only result — never raising) when every fixture
    table has ZERO rows. An empty ingest window is routine at scale
    (quiet topic, fully-pruned partition read); a query that crashes on
    it can't be scheduled unconditionally. Catches None-unpacking from
    scalar probes (min/max bounds, convergence sums) and reads of sinks
    a correctly-guarded writer never created."""
    import os

    from crypto_data_pipeline_with_kafka_spark.catalog import TABLES, load_table
    from crypto_data_pipeline_with_kafka_spark.plans.registry import queries

    empty_dir = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        load_table(spark, SF_SMOKE, t).limit(0).write.mode("overwrite").parquet(
            os.path.join(empty_dir, f"{t}.parquet")
        )
    failures = {}
    for name, fn in queries().items():
        try:
            fn(spark, empty_dir).count()
        except Exception as e:  # noqa: BLE001 - collecting the sweep
            failures[name] = str(e).splitlines()[0][:120]
        finally:
            spark.catalog.clearCache()
    assert not failures, failures
