"""The driver-gate mirror as a pytest: every registered query must match its
DuckDB oracle at sf0.001 (fast). tools/check_correctness.py runs the same
comparison standalone (and at sf0.01)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import run_one  # noqa: E402

from ssidentity_spark.io import TABLES  # noqa: E402
from ssidentity_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

_ensure_loaded()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    ok, msg = run_one(spark, duck, name, SF_DIR)
    assert ok, msg


def test_entry_contract(spark):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    qs, oracles = m.queries(), m.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(REGISTRY)


def test_queries_lists_the_registry_in_order():
    """queries() is every registered name once, in REGISTRY's order, so a
    reader that samples its leading entries sees the registry's own order."""
    from ssidentity_spark.registry import all_queries

    names = list(all_queries())
    assert names == list(REGISTRY)
    assert len(set(names)) == len(REGISTRY)


def test_bench_headliners_lead_queries():
    """The 22 bench=True headliners are exactly the first 22 queries()."""
    from ssidentity_spark.registry import all_queries

    bench = {n for n, spec in REGISTRY.items() if spec.bench}
    assert len(bench) == 22
    assert set(list(all_queries())[: len(bench)]) == bench


def test_oracle_less_queries_are_exactly_the_approx_sketches():
    """Only the two approximate sketches are rows-only; a new query without
    a DuckDB oracle must be added here deliberately."""
    rows_only = {n for n, spec in REGISTRY.items() if spec.oracle is None}
    assert rows_only == {"a8_approx_quantiles", "a8_approx_distinct_users"}


def test_decontamination_is_not_vacuous(spark):
    """The benchmark mod/rem were chosen so the corpus's planted near-dup
    structure produces real hits — if a testdata regeneration makes the
    flag never fire, this fails loudly rather than letting the oracle
    green-light a vacuous join."""
    from pyspark.sql import functions as F

    df = REGISTRY["pipe_decontaminate"].fn(spark, SF_DIR)
    n_contaminated = df.filter(F.col("contaminated")).count()
    assert n_contaminated > 0
