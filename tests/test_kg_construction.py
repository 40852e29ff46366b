"""Stage-4 KG construction: linking, union-find, canonical graph.

Ground truth is closed-form in the entity corpus (synthetic.py
generate_entity_sources: doc i describes entity group i%K)."""

from __future__ import annotations

from pyspark.sql import functions as F

from harvesting_validator_spark.kg.canonicalize import (
    canonical_mapping,
    connected_components,
)
from harvesting_validator_spark.kg.normalize import normalize_iri
from harvesting_validator_spark.plans.pipeline import run_kg_construction
from harvesting_validator_spark.sources.synthetic import (
    ENTITY_PROFILE,
    generate_entity_sources,
)

EX = "http://example.com/ns#"


def test_connected_components_chain(spark):
    """Multi-hop chain needs several propagation rounds — exercises the
    iterative loop, not just one-hop cliques."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    comp = {r.entity: r.canonical for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_long_chain_converges_logarithmically(spark):
    """A 100-node chain must resolve well under 100 propagation rounds —
    pointer jumping gives O(log d), so cap iterations at 12."""
    n = 100
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)],
        "src string, dst string",
    )
    comp = connected_components(edges, max_iterations=12)
    labels = {r.entity: r.canonical for r in comp.collect()}
    assert len(labels) == n
    assert set(labels.values()) == {"n0000"}


def test_canonical_mapping_includes_singletons(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    ents = spark.createDataFrame([("a",), ("b",), ("z",)], "entity string")
    m = {r.entity: r.canonical for r in canonical_mapping(ents, edges).collect()}
    assert m == {"a": "a", "b": "a", "z": "z"}


def test_normalize_iri(spark):
    df = spark.createDataFrame(
        [
            ("HTTP://Example.COM:80/a/./b/",),
            ("https://host:443/x",),
            ("http://ok.org/path",),
            ("urn:uuid:abc",),
            # scheme-mismatched ports are REAL ports — must survive
            ("http://h:443/x",),
            ("https://h:80/x",),
            # root slash is kept; deeper trailing slash is stripped
            ("http://h/",),
            ("http://h/a/",),
            # ADVICE r2: URN and relative IRIs must merge with their
            # slash-less spellings during linking
            ("urn:a/",),
            ("urn:x:a/b/",),
            ("a/b/",),
            ("name/",),
        ],
        "iri string",
    )
    out = [r.n for r in df.select(normalize_iri(F.col("iri")).alias("n")).collect()]
    assert out == [
        "http://example.com/a/b",
        "https://host/x",
        "http://ok.org/path",
        "urn:uuid:abc",
        "http://h:443/x",
        "https://h:80/x",
        "http://h/",
        "http://h/a",
        "urn:a",
        "urn:x:a/b",
        "a/b",
        "name",
    ]


def test_kg_construction_end_to_end(spark):
    n, k = 60, 6
    sources = generate_entity_sources(spark, n, n_entities=k)
    run = run_kg_construction(spark, sources, ENTITY_PROFILE, link_threshold=0.9)
    try:
        # every doc conforms -> 60 mentions
        assert run.mentions.count() == n

        # union-find collapses each group of 10 same-(name, ssn) entities
        clusters = (
            run.mapping.groupBy("canonical")
            .agg(F.count(F.lit(1)).alias("size"))
            .collect()
        )
        assert len(clusters) == k
        assert all(r.size == n // k for r in clusters)
        # canonical = zero-padded min member, i.e. group index r itself
        assert sorted(r.canonical for r in clusters) == [
            f"{EX}E{r:06d}" for r in range(k)
        ]

        # canonical graph: exactly 3 deduplicated triples per entity group
        assert run.graph.count() == 3 * k
        per_subj = run.graph.groupBy("subj").count().collect()
        assert all(r["count"] == 3 for r in per_subj)
    finally:
        run.cleanup()


def test_kg_run_fanout_plans_stay_small(spark):
    """mentions and mapping are checkpoint-backed: each re-enters later
    plans as one leaf, with no InMemoryRelation whose cached plan (the
    triples and validation caches nested inside) every execution start
    and adaptive re-plan would re-render. The graph still reads the
    persisted triples, whose doc_id layout serves extract_mentions; its
    plan text measured ~1.0M chars here, against ~8.7M when mentions and
    mapping were persisted. The bound leaves 2x headroom and fails if
    either fan-out intermediate goes back to a nested cache."""
    sources = generate_entity_sources(spark, 30, n_entities=3)
    run = run_kg_construction(spark, sources, ENTITY_PROFILE)
    try:
        for df in (run.mentions, run.mapping):
            plan = df._jdf.queryExecution().optimizedPlan()
            assert plan.collectLeaves().size() == 1
            assert "InMemoryRelation" not in plan.toString()
        assert len(run.graph._jdf.queryExecution().toString()) < 2_000_000
    finally:
        run.cleanup()


def test_bnode_entity_linking(spark):
    """north_star: equivalence classes span IRIs AND blank nodes — a bnode
    mention sharing a strong key with an IRI mention joins its cluster,
    and the canonical id is deterministic (bnode labels sort after the
    http IRI, so the IRI wins the min)."""
    from harvesting_validator_spark.kg.canonicalize import canonical_mapping
    from harvesting_validator_spark.kg.linking import (
        block_candidates_by_key,
        extract_mentions,
        link_edges,
    )

    docs = {
        "d1": """@prefix ex: <http://example.com/ns#> .
ex:Alice a ex:Person ; ex:name "A Person" ; ex:ssn "111-11-1111" .
""",
        "d2": """@prefix ex: <http://example.com/ns#> .
_:someone a ex:Person ; ex:name "A Person" ; ex:ssn "111-11-1111" .
""",
    }
    rows = [("r", f"{k}.ttl", k, "turtle", v) for k, v in docs.items()]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples

    mentions = extract_mentions(parse_sources_to_triples(src))
    assert mentions.count() == 2
    edges = link_edges(block_candidates_by_key(mentions), threshold=0.9)
    mapping = {r.entity: r.canonical
               for r in canonical_mapping(mentions.select("entity"), edges).collect()}
    assert mapping["_:someone"] == f"{EX}Alice"
    assert mapping[f"{EX}Alice"] == f"{EX}Alice"


def test_kg_salted_blocking_same_result(spark):
    """Salted band join (skew path) must produce the identical graph."""
    n, k = 30, 3
    sources = generate_entity_sources(spark, n, n_entities=k)
    g = []
    for n_salt in (1, 4):
        run = run_kg_construction(spark, sources, ENTITY_PROFILE, n_salt=n_salt)
        try:
            g.append({tuple(r) for r in run.graph.collect()})
        finally:
            run.cleanup()
    assert g[0] == g[1]


def test_merge_components_equals_batch_recompute(spark):
    """Incremental union-find (r4): folding a second batch of edges into
    an existing mapping must equal the one-shot recompute over all edges
    — including the hard case where a NEW edge transitively merges two
    OLD components."""
    from harvesting_validator_spark.kg.canonicalize import (
        canonical_mapping,
        connected_components,
        merge_components,
    )

    def df_edges(pairs):
        return spark.createDataFrame(
            [(f"http://x/{a}", f"http://x/{b}") for a, b in pairs],
            ["src", "dst"],
        )

    # batch 1: two separate components {0,1,2} and {10,11}, plus {20,21}
    e1 = df_edges([(0, 1), (1, 2), (10, 11), (20, 21)])
    ents1 = e1.select(F.col("src").alias("entity")).union(
        e1.select(F.col("dst").alias("entity"))
    )
    m1 = canonical_mapping(ents1, e1)
    # batch 2: a new chain 30-31, a bridge merging the two old
    # components (2 <-> 10, via non-canonical members), and a new entity
    # attaching to an old one (40 <-> 21)
    e2 = df_edges([(30, 31), (2, 10), (40, 21)])
    merged = merge_components(m1, e2)

    full = connected_components(e1.unionByName(e2))
    got = {(r.entity, r.canonical) for r in merged.collect()}
    want = {(r.entity, r.canonical) for r in full.collect()}
    assert got == want
    # the merged {0..2,10,11} component canonicalizes to the global min
    by_ent = dict(got)
    assert by_ent["http://x/10"] == "http://x/0"
    assert by_ent["http://x/40"] == "http://x/20"
