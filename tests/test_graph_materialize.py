"""Canonical-graph materialization: bucketed-by-predicate layout survives a
write/read round trip (the Iceberg bucket(pred) analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from harvesting_validator_spark.kg.graph import dedup_graph, materialize_graph
from harvesting_validator_spark.plans.pipeline import run_kg_construction
from harvesting_validator_spark.sources.synthetic import (
    ENTITY_PROFILE,
    generate_entity_sources,
)


def test_materialize_roundtrip(spark, tmp_path):
    run = run_kg_construction(
        spark, generate_entity_sources(spark, 30, n_entities=3), ENTITY_PROFILE
    )
    try:
        out = str(tmp_path / "graph")
        materialize_graph(run.graph, out, partition_buckets=8)

        back = spark.read.parquet(out)
        # partition column present and within range
        buckets = {
            r.pred_bucket for r in back.select("pred_bucket").distinct().collect()
        }
        assert buckets <= set(range(8))
        # content identical to the in-memory graph
        cols = ["subj", "pred", "obj_value", "obj_kind", "obj_datatype", "obj_lang"]
        assert {tuple(r) for r in back.select(*cols).collect()} == {
            tuple(r) for r in run.graph.select(*cols).collect()
        }
        # dedup is idempotent
        assert dedup_graph(back.select(*cols)).count() == run.graph.count()
    finally:
        run.cleanup()
