"""Executor-storage hygiene (VERDICT r3 ask #3): iterative queries must
not leave localCheckpoint RDDs resident after their output is
materialized and released — in a shared bench/driver session that
storage otherwise precedes later queries' cold passes.

Reference analog: the per-task scratch state the reference drops on task
completion (ValidationRun.cleanup mirrors it for persist() caches; these
tests cover the checkpoint RDDs that have no DataFrame-level unpersist).
"""

from __future__ import annotations

import pytest

from harvesting_validator_spark.runtime import (
    checkpoint,
    persistent_rdd_ids,
    release_new_rdds,
    unpersist_rdds,
)


def _storage_ids(spark):
    return persistent_rdd_ids(spark)


@pytest.fixture
def sentinels(spark):
    """Ids of a persisted frame and a checkpoint that this test holds,
    pinned before it takes its storage baseline. Checkpoints that earlier
    tests left unreferenced are dropped by the JVM's ContextCleaner at
    any GC, so storage may fall below a baseline on its own and equality
    would flake; "back to baseline" is a subset test instead, and these
    held ids must survive it, so a sweep or cleanup that releases ids it
    does not own still fails."""
    before = _storage_ids(spark)
    cached = spark.range(3).persist()
    cached.count()
    # held stays referenced until teardown, out of the ContextCleaner's reach
    held, _ = checkpoint(spark.range(3))
    ids = _storage_ids(spark) - before
    assert len(ids) == 2
    yield ids
    cached.unpersist(blocking=True)
    unpersist_rdds(spark, ids, blocking=True)


def _assert_at_baseline(spark, base, sentinels):
    now = _storage_ids(spark)
    assert now <= base, f"left resident: {now - base}"
    assert sentinels <= now, f"released ids it does not own: {sentinels - now}"


def _checkpoint_rdd_id(df) -> int:
    """Id of the RDD behind a checkpoint-backed frame (its LogicalRDD)."""
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def test_checkpoint_returns_the_ids_it_pinned(spark, sentinels):
    """runtime.checkpoint reports exactly its own RDD: not a lazily
    persisted upstream cache that its job fills, which stays its owner's
    to release. The frame stays readable from the checkpoint alone."""
    base = _storage_ids(spark)
    df, ids = checkpoint(spark.range(10).selectExpr("id * 2 AS id"))
    assert ids == {_checkpoint_rdd_id(df)}
    assert sorted(r.id for r in df.collect()) == list(range(0, 20, 2))

    upstream = spark.range(5).persist()
    df2, ids2 = checkpoint(upstream.selectExpr("id + 1 AS id"))
    assert ids2 == {_checkpoint_rdd_id(df2)}
    assert len(_storage_ids(spark) - base - ids - ids2) == 1  # the upstream cache
    upstream.unpersist(blocking=True)
    assert sorted(r.id for r in df2.collect()) == [1, 2, 3, 4, 5]
    assert unpersist_rdds(spark, ids | ids2, blocking=True) == 2
    _assert_at_baseline(spark, base, sentinels)


def test_connected_components_releases_loop_intermediates(spark, sentinels):
    """A 17-node chain needs several pointer-jumping rounds; the in-loop
    release must leave at most ONE resident checkpoint (the final label
    table the returned DataFrame is backed by) — not one per probed
    round plus the edge list."""
    from harvesting_validator_spark.kg.canonicalize import connected_components

    base = _storage_ids(spark)
    edges = spark.createDataFrame(
        [(f"http://x/{i}", f"http://x/{i + 1}") for i in range(16)],
        ["src", "dst"],
    )
    comp = connected_components(edges)
    rows = comp.collect()
    assert len(rows) == 17
    assert {r.canonical for r in rows} == {"http://x/0"}
    resident = _storage_ids(spark) - base
    # final labels checkpoint only: und + superseded round checkpoints
    # were released inside the loop
    assert len(resident) <= 1, f"loop leaked {len(resident)} RDDs"
    released = release_new_rdds(spark, base, blocking=True)
    assert released == len(resident)
    _assert_at_baseline(spark, base, sentinels)


def test_kg_run_cleanup_returns_storage_to_baseline(spark, sentinels):
    """KgRun.cleanup() must release persist() caches AND its checkpoints,
    tracked by RDD id: exactly the mentions and mapping checkpoints (the
    union-find's final label checkpoint is freed once mapping holds its
    rows)."""
    from harvesting_validator_spark.plans.pipeline import run_kg_construction
    from harvesting_validator_spark.sources.synthetic import (
        APPLICATION_PROFILE,
        generate_sources,
    )

    base = _storage_ids(spark)
    run = run_kg_construction(
        spark, generate_sources(spark, 40), APPLICATION_PROFILE
    )
    assert run.graph.count() > 0
    assert _storage_ids(spark) - base, "expected resident caches before cleanup"
    checkpoints = {_checkpoint_rdd_id(run.mentions), _checkpoint_rdd_id(run.mapping)}
    assert run._checkpoint_ids == checkpoints
    assert checkpoints <= _storage_ids(spark)
    run.cleanup()
    # unpersisting drops an id from the persistent-RDD map at once, even
    # non-blocking, so cleanup() alone must get back to the baseline
    assert not checkpoints & _storage_ids(spark), "cleanup() kept a checkpoint"
    _assert_at_baseline(spark, base, sentinels)


def test_bench_style_sweep_after_pagerank(spark, sf_dir, sentinels):
    """r6: the pagerank edge list lives in a layout-preserving persisted
    repartition (no bucketed scratch table, no catalog entry, no /tmp
    dir). One invocation leaves exactly ONE resident cache (the edge
    table backing the returned DataFrame); a second invocation releases
    the first via the module handle; the bench-style release_new_rdds
    sweep returns storage to baseline."""
    from harvesting_validator_spark.queries.graphops import (
        _PR_EDGE_CACHE,
        q_pagerank_bipartite,
    )

    # earlier tests in the shared session (test_plans runs pagerank too)
    # may have left a live edge cache: drain it BEFORE snapshotting, else
    # this test's invocation releases an id that is part of `base`
    while _PR_EDGE_CACHE:
        _PR_EDGE_CACHE.pop().unpersist(blocking=True)
    base = _storage_ids(spark)
    base_tables = {t.name for t in spark.catalog.listTables()}
    assert q_pagerank_bipartite(spark, sf_dir).count() > 0
    resident = _storage_ids(spark) - base
    assert len(resident) == 1, f"expected the edge cache only, got {resident}"
    assert {t.name for t in spark.catalog.listTables()} == base_tables

    # a second invocation must hand off the cache, not accumulate
    assert q_pagerank_bipartite(spark, sf_dir).count() > 0
    release_new_rdds(spark, base, blocking=True)
    _assert_at_baseline(spark, base, sentinels)
    assert len(_PR_EDGE_CACHE) == 1  # handle for the (now-released) last run
    _PR_EDGE_CACHE.clear()



CHAIN_SHAPE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:ChainShape a sh:NodeShape ;
  sh:targetClass ex:Root ;
  sh:property [ sh:path [ sh:oneOrMorePath ex:p ] ; sh:maxCount 9 ] .
"""


def _chain(spark, nodes: int):
    """n0 -p-> n1 -p-> ... in one document, n0 typed ex:Root."""
    ex = "http://ex/"
    rows = [
        (b"\x01", f"{ex}n{i}", ex + "p", f"{ex}n{i + 1}", "iri", None, None)
        for i in range(nodes - 1)
    ] + [(b"\x01", ex + "n0",
          "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", ex + "Root",
          "iri", None, None)]
    return spark.createDataFrame(
        rows,
        "doc_id binary, subj string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string",
    )


def _closure_plus(triples):
    from harvesting_validator_spark.sparql import sparql_select

    q = "SELECT ?r WHERE { <http://ex/n0> <http://ex/p>+ ?r }"
    return sparql_select(triples, q).collect()


def _shacl_violations(spark, triples):
    from harvesting_validator_spark.shacl.compile import validate
    from harvesting_validator_spark.shacl.parse import parse_shapes_turtle

    shapes = parse_shapes_turtle(CHAIN_SHAPE)
    return validate(triples, shapes, spark, cache_intermediate=False).count()


def test_sparql_closure_releases_superseded_rounds(spark, sentinels):
    """p+ over an 8-node chain (four doubling rounds, five checkpoints)
    keeps only the checkpoint its result is backed by: each superseded
    round is freed inside the loop."""
    base = _storage_ids(spark)
    assert len(_closure_plus(_chain(spark, 8))) == 7
    resident = _storage_ids(spark) - base
    assert len(resident) <= 1, f"closure leaked {len(resident)} RDDs"
    release_new_rdds(spark, base, blocking=True)
    _assert_at_baseline(spark, base, sentinels)


def test_shacl_closure_releases_superseded_rounds(spark, sentinels):
    """Same storage bound for sh:oneOrMorePath, one closure predicate."""
    base = _storage_ids(spark)
    assert _shacl_violations(spark, _chain(spark, 8)) == 0
    resident = _storage_ids(spark) - base
    assert len(resident) <= 1, f"closure leaked {len(resident)} RDDs"
    release_new_rdds(spark, base, blocking=True)
    _assert_at_baseline(spark, base, sentinels)


def test_closure_divergence_guard(spark, sentinels, monkeypatch):
    """With the round cap at 1 a 3-hop chain is not at its fixpoint (its
    count still grows in the first doubling round): SPARQL p+ raises
    SparqlError and the SHACL path refuses to under-validate, and the
    capped closure frees its last checkpoint before giving up."""
    from harvesting_validator_spark import runtime
    from harvesting_validator_spark.sparql import SparqlError

    chain = _chain(spark, 4)
    base = _storage_ids(spark)
    assert len(_closure_plus(chain)) == 3
    assert _shacl_violations(spark, chain) == 0
    release_new_rdds(spark, base, blocking=True)

    monkeypatch.setattr(runtime, "CLOSURE_MAX_ROUNDS", 1)
    with pytest.raises(SparqlError, match="did not converge in 1 doubling"):
        _closure_plus(chain)
    with pytest.raises(RuntimeError, match="refusing to under-validate"):
        _shacl_violations(spark, chain)
    _assert_at_baseline(spark, base, sentinels)
