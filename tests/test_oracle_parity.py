"""The local replica of the driver's correctness gate: every registered
query with an oracle must match DuckDB exactly (values, not epsilon) at
sf0.001. Queries without an oracle must at least run and return a
stable schema.
"""

from __future__ import annotations

import pytest

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY

from .oracle_compare import compare_frames

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
NO_ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    duck_pdf = duck.execute(spec.oracle).fetchdf()
    problems = compare_frames(spark_pdf, duck_pdf, name)
    assert not problems, "\n".join(problems[:10])


@pytest.mark.parametrize("name", NO_ORACLE_QUERIES)
def test_rows_only_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


def test_dag_critical_path_with_empty_layer(spark, sf_dir, tmp_path):
    """A supplier table holding no key of one ``s_suppkey % 6`` residue
    leaves a DAG layer empty: no root-to-sink path exists, so the
    oracle's answer is empty and the Spark DP must return it too."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/supplier.parquet') "
        f"WHERE s_suppkey % 6 <> 3) TO '{tmp_path}/supplier.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"CREATE VIEW supplier AS SELECT * FROM read_parquet('{tmp_path}/supplier.parquet')"
    )
    spec = REGISTRY["graph_dag_critical_path"]
    duck_pdf = con.execute(spec.oracle).fetchdf()
    con.close()
    spark_pdf = spec.fn(spark, str(tmp_path)).toPandas()
    assert len(duck_pdf) == 0
    problems = compare_frames(spark_pdf, duck_pdf, spec.name)
    assert not problems, "\n".join(problems)
