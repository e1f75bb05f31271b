"""Driver-local tables are LocalRelations: reading them runs no
Python-worker task, and their schema is the DDL's."""

import pytest

from text2nkg_spark.operators.canonicalize import (
    _local_components, canonicalize_entities, lsh_candidate_pairs)
from text2nkg_spark.operators.metrics import METRICS_SCHEMA, metrics_table


@pytest.fixture(scope="module")
def frames(spark):
    mentions = spark.createDataFrame(
        [("c0", 0, 0, 1, "acme corp"), ("c0", 1, 2, 3, "acme corp."),
         ("c1", 0, 0, 1, "zeta")],
        "conv_id string, turn_idx int, start int, end int, surface string")
    surfaces = mentions.select("surface").distinct()
    return {
        "metrics_table": (
            metrics_table(spark, {"facts": {"rows_out": 3, "wall_s": 0.5}}),
            METRICS_SCHEMA),
        "surface_to_entity": (
            canonicalize_entities(mentions)["surface_to_entity"],
            "surface string, entity_id string"),
        "_local_components": (
            _local_components([("a", "b"), ("c", "b")], spark, "string"),
            "node string, component string"),
        "_local_components_empty": (
            _local_components([], spark, "bigint"),
            "node bigint, component bigint"),
        "lsh_candidate_pairs": (
            lsh_candidate_pairs(surfaces),
            "a string, b string, jaccard double"),
    }


@pytest.mark.parametrize("name", [
    "metrics_table", "surface_to_entity", "_local_components",
    "_local_components_empty", "lsh_candidate_pairs"])
def test_driver_local_tables_are_local_relations(spark, frames, name):
    df, ddl = frames[name]
    plan = df._jdf.queryExecution().analyzed().treeString()
    assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan
    assert df.schema == spark.createDataFrame([], ddl).schema


def test_driver_local_tables_keep_their_rows(frames):
    assert sorted(map(tuple, frames["metrics_table"][0].collect())) == [
        ("facts", "rows_out", 3.0), ("facts", "wall_s", 0.5)]
    assert sorted(map(tuple, frames["_local_components"][0].collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a")]
    assert frames["_local_components_empty"][0].count() == 0
    surfaces = frames["surface_to_entity"][0].select("surface")
    assert [tuple(r) for r in frames["lsh_candidate_pairs"][0].collect()] \
        == [tuple(r) for r in lsh_candidate_pairs(
            surfaces, local_threshold=0).collect()]
    assert sorted(map(tuple, frames["surface_to_entity"][0].collect())) == [
        ("acme corp", "acme corp"), ("acme corp.", "acme corp"),
        ("zeta", "zeta")]
