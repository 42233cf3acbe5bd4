"""Every queries() entry must match its oracle_sql() on DuckDB at sf0.001 —
the same check sweep.py runs at sf0.01."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare, duck_conn

SF_DIR = "/root/testdata/sf0.001"


def _entry_maps():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


QUERIES, ORACLES = _entry_maps()


@pytest.fixture(scope="module")
def con():
    c = duck_conn(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    df = QUERIES[name](spark, SF_DIR)
    compare(df, con, ORACLES[name])


def test_every_oracle_has_a_query():
    assert set(ORACLES) == set(QUERIES)


def test_benchmark_queries_are_registered():
    """perfbench's stored_analytics workload looks its queries up by name in
    queries() and oracle_sql(); a name that goes from either map breaks the
    benchmark, which tier-1 does not run. The QUERIES tuple is read from
    the source so the benchmark package is not imported."""
    import ast
    from pathlib import Path

    src = Path(__file__).resolve().parents[1] / "perfbench" / "analytics.py"
    bench = next(
        ast.literal_eval(node.value)
        for node in ast.parse(src.read_text()).body
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == ["QUERIES"]
    )
    assert bench, "no QUERIES tuple in perfbench/analytics.py"
    assert set(bench) <= set(QUERIES), sorted(set(bench) - set(QUERIES))
    assert set(bench) <= set(ORACLES), sorted(set(bench) - set(ORACLES))


def test_outputs_are_driver_hashable(spark):
    """The external gate's canonicalizer sorts a pandas frame of the result;
    array/struct/map columns make that die with `unhashable type: 'list'`
    (the one red r02 row). Every gated query must emit atomic columns only.
    No result materialization — though the iterative/eagerly-checkpointed
    queries (the connected-components ones and emb_ivf_topk's centroid
    training) do run
    Spark jobs at DataFrame-construction time."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"non-scalar output columns (driver cannot hash): {bad}"
