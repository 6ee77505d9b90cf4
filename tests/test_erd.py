"""ERD facade + layouts."""

from __future__ import annotations

import pytest

from gcp_datalake_utils_spark.catalog import fixtures as fx
from gcp_datalake_utils_spark.erd import generate_erd
from gcp_datalake_utils_spark.formatters.layout import (
    choose_layout,
    force_positions,
    grid_positions,
    hierarchical_positions,
)


def test_choose_layout_mirrors_reference_auto_rule():
    assert choose_layout(4, 2) == "grid"
    assert choose_layout(10, 25) == "force"
    assert choose_layout(10, 12) == "hierarchical"


def test_grid_positions_deterministic(spark):
    rows = {r.table_id: (r.x, r.y)
            for r in grid_positions(spark).collect()}
    assert rows["region"] == (0.0, 0.0)       # table_ord 1
    assert rows["nation"] == (260.0, 0.0)     # table_ord 2
    assert rows["orders"][1] == 300.0         # table_ord 6 -> row 2


def test_hierarchical_positions_use_bfs_levels(spark):
    rows = hierarchical_positions(spark).collect()
    assert rows and all(r.y >= 0 for r in rows)
    roots_y0 = [r for r in rows if r.y == 0.0]
    assert roots_y0, "no level-0 tables positioned"


def test_force_positions_deterministic_and_finite(spark):
    p1 = force_positions(spark)
    p2 = force_positions(spark)
    assert p1 == p2
    assert all(abs(x) < 1e6 and abs(y) < 1e6 for x, y in p1.values())


def test_generate_erd_formats(spark):
    doc = generate_erd(spark, "mermaid", "grid")
    assert doc.startswith("erDiagram")
    doc2 = generate_erd(spark, "drawio", "grid")
    assert doc2.startswith("<?xml")


@pytest.mark.parametrize("name", [
    "meta_tables_df", "meta_columns_df", "custom_rules_df",
    "naming_patterns_df", "proc_state_df", "rel_cache_df"])
def test_catalog_frames_are_sql_literals(spark, name):
    plan = (getattr(fx, name)(spark)._jdf.queryExecution()
            .executedPlan().toString())
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_sql_lit_rejects_backslash():
    # Spark reads '^(.+)\d$' as '^(.+)d$'; DuckDB keeps it verbatim
    with pytest.raises(ValueError, match="backslash"):
        fx._sql_lit("^(.+)\\d$")
    with pytest.raises(ValueError, match="backslash"):
        fx._sql_lit("a\\nb")
    assert fx._sql_lit("it's") == "'it''s'"


def test_generate_erd_caches_no_new_plan_per_call(spark):
    manager = spark._jsparkSession.sharedState().cacheManager()
    generate_erd(spark, "mermaid")
    # cachedData() returns an immutable snapshot: read it after each call
    before = manager.cachedData().size()
    for _ in range(3):
        generate_erd(spark, "mermaid")
        assert manager.cachedData().size() == before
