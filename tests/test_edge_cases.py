"""Validator and KG-pipeline boundary conditions: empty and singleton
inputs, untargeted-only docs, profiles with no constraints."""

from __future__ import annotations

import pytest

from harvesting_validator_spark.operators.filtering import split_valid_error
from harvesting_validator_spark.plans.pipeline import (
    run_kg_construction,
    run_validation,
)
from harvesting_validator_spark.runtime import persistent_rdd_ids
from harvesting_validator_spark.shacl.compile import compute_focus, validate
from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
from harvesting_validator_spark.sources.synthetic import (
    APPLICATION_PROFILE,
    ENTITY_PROFILE,
    generate_entity_sources,
)

TRIPLE_SCHEMA = (
    "doc_id string, subj string, pred string, obj_value string, "
    "obj_kind string, obj_datatype string, obj_lang string"
)

SHAPES = parse_shapes_turtle(APPLICATION_PROFILE)


def test_empty_triples(spark):
    empty = spark.createDataFrame([], TRIPLE_SCHEMA)
    viol = validate(empty, SHAPES, spark, cache_intermediate=False)
    assert viol.count() == 0
    focus = compute_focus(empty, SHAPES, spark)
    valid, error = split_valid_error(empty, focus, viol)
    assert valid.count() == 0 and error.count() == 0


def test_empty_shapes(spark):
    shapes = parse_shapes_turtle("@prefix ex: <http://e.org/> .\n")
    df = spark.createDataFrame(
        [("d", "http://e.org/s", "http://e.org/p", "v", "literal",
          "http://www.w3.org/2001/XMLSchema#string", None)],
        TRIPLE_SCHEMA,
    )
    viol = validate(df, shapes, spark, cache_intermediate=False)
    assert viol.count() == 0
    # no shapes -> nothing targeted -> everything "completely filtered"
    valid, error = split_valid_error(df, compute_focus(df, shapes, spark), viol)
    assert valid.count() == 0 and error.count() == 1


def test_untargeted_only_doc_conforms_but_filters(spark):
    """Agrougrou semantics generalized: a doc whose subjects match no
    targetClass has zero violations (conforms) yet zero valid triples."""
    src = spark.createDataFrame(
        [("r", "p.ttl", "c", "turtle",
          "@prefix ex: <http://example.com/ns#> .\n"
          'ex:X a ex:Unknown ; ex:ssn "1" .\n')],
        "repo string, path string, commit string, lang string, content string",
    )
    run = run_validation(spark, src, APPLICATION_PROFILE, cache=False)
    v = run.verdicts.first()
    assert v.conforms and v.n_violations == 0
    assert run.valid_triples.count() == 0
    assert run.error_triples.count() == 2


def test_empty_sources(spark):
    src = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    run = run_validation(spark, src, APPLICATION_PROFILE, cache=False)
    assert run.verdicts.count() == 0
    assert run.valid_triples.count() == 0
    assert run.report.count() == 0


@pytest.mark.parametrize("blocking", ["minhash", "key"])
@pytest.mark.parametrize("n_docs", [0, 1])
def test_kg_construction_empty_and_singleton_corpus(spark, n_docs, blocking):
    """Fewer than two documents leave nothing to link: an empty corpus
    yields empty stages, a one-document corpus one mention that maps to
    itself and its three canonical triples (rdf:type, name, ssn).
    cleanup() releases every cache and checkpoint the run made."""
    sources = generate_entity_sources(spark, 10, n_entities=1).limit(n_docs)
    base = persistent_rdd_ids(spark)
    run = run_kg_construction(spark, sources, ENTITY_PROFILE, blocking=blocking)
    try:
        assert run.edges.count() == 0
        assert run.mentions.count() == n_docs
        mapping = run.mapping.collect()
        assert len(mapping) == n_docs
        assert all(r.entity == r.canonical for r in mapping)
        assert run.graph.count() == 3 * n_docs
    finally:
        run.cleanup()
    assert persistent_rdd_ids(spark) == base
