"""``register_sql`` registers only the fixture tables its statement names.

``catalog.statement_tables`` reads the names from Spark's parser; a name
it misses would otherwise be masked by views an earlier call left
registered, so the registry sweep starts every entry from a session with
no temp views at all.
"""

from __future__ import annotations

import pytest

from aws_cli_data_pipeline_tools_spark.catalog import all_specs, statement_tables
from aws_cli_data_pipeline_tools_spark.sources import TABLES, register_views


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _drop_temp_views(spark) -> None:
    for name in _temp_views(spark):
        spark.catalog.dropTempView(name)


@pytest.mark.parametrize(
    "sql, want",
    [
        ("WITH c AS (SELECT * FROM customer) SELECT * FROM c", ["customer"]),
        ("SELECT (SELECT max(n_nationkey) FROM nation) AS m FROM region",
         ["region", "nation"]),
        ("SELECT * FROM region WHERE r_regionkey IN "
         "(SELECT s_nationkey FROM supplier)", ["region", "supplier"]),
        ("SELECT * FROM region r WHERE EXISTS "
         "(SELECT 1 FROM orders o WHERE o.o_custkey = r.r_regionkey)",
         ["region", "orders"]),
        ("SELECT e FROM documents LATERAL VIEW explode(array(1, 2)) t AS e",
         ["documents"]),
        ("SELECT * FROM spark_catalog.default.part", ["part"]),
        ("SELECT * FROM `LineItem` l JOIN `events` e ON true",
         ["lineitem", "events"]),
        # a CTE that nests a subquery inside another CTE's body
        ("WITH a AS (SELECT * FROM embeddings WHERE id IN "
         "(SELECT o_orderkey FROM orders)), b AS (SELECT * FROM a) "
         "SELECT * FROM b", ["orders", "embeddings"]),
        ("SELECT * FROM range(3)", []),
        ("SELECT 1 AS x", []),
    ],
)
def test_statement_tables_extractor(spark, sql, want):
    assert statement_tables(spark, sql) == want


def test_register_views_empty_list_registers_nothing(spark, sf_dir):
    _drop_temp_views(spark)
    register_views(spark, sf_dir, [])
    assert _temp_views(spark) == set()
    register_views(spark, sf_dir, ["nation"])
    assert _temp_views(spark) == {"nation"}
    _drop_temp_views(spark)


def test_every_register_sql_entry_analyzes_with_only_its_own_views(spark, sf_dir):
    """Each SQL pass-through entry, built on a session with no temp views,
    registers exactly the fixture tables its statement names, and its
    plan analyzes against those views alone."""
    entries = {
        name: spec
        for name, spec in all_specs().items()
        if spec.fn.__qualname__.startswith("register_sql")
    }
    assert len(entries) > 100
    failures = []
    try:
        for name, spec in entries.items():
            _drop_temp_views(spark)
            try:
                spec.fn(spark, sf_dir).schema
            except Exception as e:  # noqa: BLE001 - collect every failure
                failures.append((name, type(e).__name__, str(e)[:200]))
                continue
            views = _temp_views(spark)
            named = statement_tables(spark, spec.fn.spark_sql)
            if views != set(named) or not views <= set(TABLES):
                failures.append((name, sorted(views), named))
    finally:
        _drop_temp_views(spark)
    assert not failures, failures
