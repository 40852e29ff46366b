"""Physical-plan audits: the properties that matter at 100 TB, asserted so
regressions fail tests rather than melting a cluster.

- filters reach the parquet scan (PushedFilters);
- column pruning reaches the scan (ReadSchema carries only used columns);
- tiny dims broadcast;
- per-doc operators keep whole-stage codegen (no row-at-a-time Python in
  the relational path).
"""

from __future__ import annotations

from harvesting_validator_spark.queries import dedup, relational, textops


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, sf_dir):
    plan = _formatted(relational.q_delta_status_filter(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,signup)" in plan


def test_column_pruning(spark, sf_dir):
    plan = _formatted(relational.q_delta_status_filter(spark, sf_dir))
    # ReadSchema must not include unused columns (ts, value, props)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "props" not in read_schema[0]
    assert "value" not in read_schema[0]


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(relational.q_twohop_region_rollup(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region dims


def test_semi_anti_join_shapes(spark, sf_dir):
    semi = _plan(relational.q_ask_exists_semi(spark, sf_dir))
    anti = _plan(relational.q_conformance_anti(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_agg_has_partial_aggregation(spark, sf_dir):
    plan = _plan(relational.q_tpch_q1(spark, sf_dir))
    # map-side combine before the exchange
    assert "partial_" in plan


def test_text_ops_stay_jvm_side(spark, sf_dir):
    # token/quality/fingerprint paths must not contain Python evals —
    # they are pure Catalyst expressions (BatchEvalPython/ArrowEval only
    # appear for UDF queries)
    for q in (textops.q_token_stats, textops.q_quality_score,
              textops.q_fingerprint, dedup.q_minhash_signatures,
              dedup.q_simhash):
        plan = _plan(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_wholestage_codegen_on_scan_path(spark, sf_dir):
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    plan = _plan(textops.q_token_stats(spark, sf_dir))
    assert "*(1)" in plan


def test_no_cartesian_product_in_any_registered_query(spark, sf_dir):
    """Global scale guard: no registered query may plan a CartesianProduct
    at any sf. Non-equi joins must run against an absolutely bounded,
    broadcastable side (BroadcastNestedLoopJoin) instead."""
    from harvesting_validator_spark.queries import ALL_QUERIES as QUERIES

    offenders = []
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_lsh_verify_token_join_not_forced_broadcast(spark, sf_dir):
    """The token-set table in lsh_verified_pairs derives from the FULL
    documents corpus — a forced F.broadcast would OOM the driver at 100x
    scale (VERDICT r1 #3). With the broadcast threshold disabled, the plan
    must fall back to a shuffled join, proving the broadcast (when it does
    appear at bench sf) is statistics-driven, not a hint."""
    from harvesting_validator_spark.session import get_spark

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(dedup.q_lsh_verified_pairs(spark, sf_dir))
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ngram_jaccard_block_is_bounded_bnlj(spark, sf_dir):
    """ngram_jaccard's non-equi self-join must be a BroadcastNestedLoopJoin
    over the absolutely-capped block (never CartesianProduct), and the cap
    filter must reach the parquet scan."""
    df = dedup.q_ngram_jaccard(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    assert "LessThan(doc_id,10000)" in fmt  # cap pushed to the scan


def test_lsh_candidates_have_no_pair_stream_aggregation(spark, sf_dir):
    """r3: candidate pairs are emitted exactly once at their FIRST shared
    band — the plan must contain NO aggregation (the old .distinct()) on
    the quadratic pair stream. The only aggregates allowed are the
    per-doc minhash array_min projections, which are not HashAggregates."""
    plan = _plan(dedup.q_minhash_lsh_pairs(spark, sf_dir))
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_kg_lsh_candidates_have_no_pair_stream_aggregation(spark):
    """KG minhash blocking shares lsh.lsh_pairs' first-shared-band
    emission: over a plain mentions table, the plan (salted or not)
    aggregates only mentions, one representative per entity, below the
    band join — the old dropDuplicates on the pair stream is gone."""
    import re

    from harvesting_validator_spark.kg.linking import block_candidates

    mentions = spark.createDataFrame(
        [("d1", "ex:A", "ex:P", "name Ann ssn 1", ["1"]),
         ("d2", "ex:B", "ex:P", "name Ann ssn 2", ["2"])],
        "doc_id string, entity string, entity_type string, attr_text string, "
        "strong_keys array<string>",
    )
    for n_salt in (1, 4):
        plan = _plan(block_candidates(mentions, n_salt=n_salt))
        keys = re.findall(r"Aggregate\(keys?=\[([^\]]*)\]", plan)
        assert keys, "the per-entity representative is an aggregation"
        assert all(re.fullmatch(r"entity#\d+", k) for k in keys), keys
        assert "CartesianProduct" not in plan


def test_lsh_verified_pairs_builds_no_member_arrays(spark, sf_dir):
    """Duplicate classes expand to doc pairs through the (class_id, doc_id)
    membership join: no collect_list of members (one array per class on
    one executor) anywhere in the plan, the cached class table included."""
    plan = _plan(dedup.q_lsh_verified_pairs(spark, sf_dir))
    assert "collect_list" not in plan
    assert "members" not in plan


def test_linking_plan_has_no_python_eval(spark):
    """score_pairs is pure Catalyst (VERDICT r2 #7): the whole
    mentions -> blocking -> scoring -> edges plan must contain no
    ArrowEvalPython/BatchEvalPython nodes."""
    from harvesting_validator_spark.kg.linking import (
        block_candidates_by_key,
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import (
        generate_entity_sources,
    )

    triples = parse_sources_to_triples(generate_entity_sources(spark, 60))
    edges = link_edges(block_candidates_by_key(extract_mentions(triples)))
    plan = _plan(edges)
    # the RDF parse itself is the one sanctioned mapInPandas; beyond it
    # nothing may drop out of the JVM
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_qualified_probe_plan_stays_jvm_side(spark):
    """The shape-valued components' recursive conformance probe (SHACL
    pass 6) must compile to pure Catalyst joins/aggregates — no Python
    eval nodes beyond the sanctioned parse kernel, and no Cartesian
    product from the probe anti-joins."""
    from harvesting_validator_spark.shacl.compile import validate
    from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
    from harvesting_validator_spark.sources.synthetic import (
        QUALIFIED_PROFILE,
    )

    rows = [
        ("d", "http://e/N1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://example.com/ns#Owner", "iri", None, None),
        ("d", "http://e/N1", "http://example.com/ns#pet", "http://e/P1",
         "iri", None, None),
        ("d", "http://e/P1", "http://example.com/ns#species", "dog",
         "literal", "http://www.w3.org/2001/XMLSchema#string", None),
        ("d", "http://e/N2", "http://example.com/ns#orders", "http://e/O1",
         "iri", None, None),
    ]
    triples = spark.createDataFrame(
        rows,
        "doc_id string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string",
    )
    shapes = parse_shapes_turtle(QUALIFIED_PROFILE)
    plan = _plan(validate(triples, shapes, spark, cache_intermediate=False))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_validate_reuses_single_doc_id_exchange(spark):
    """The headline scale property of the validation stage graph: with the
    parse output hash-partitioned by doc_id (repartition_by_doc) and
    subset co-partitioning enabled (session.py), EVERY downstream
    join/groupBy (focus distinct, focus⋈triples, cardinality groupBy,
    class join) is keyed on a doc_id-prefixed superset and reuses that
    one exchange. With broadcasts disabled (the at-100TB shape), the
    physical plan must contain NO hash exchange on any key other than the
    repartition's own (doc_id,) — i.e. the corpus shuffles exactly once."""
    import re

    from harvesting_validator_spark.shacl.compile import validate
    from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import (
        APPLICATION_PROFILE,
        generate_sources,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        t = parse_sources_to_triples(
            generate_sources(spark, 100), repartition_by_doc=True
        )
        shapes = parse_shapes_turtle(APPLICATION_PROFILE)
        v = validate(t, shapes, spark, cache_intermediate=False)
        plan = _plan(v.select("doc_id").distinct())
        keys = {
            re.sub(r"#\d+L?", "", m).strip()
            for m in re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
        }
        assert keys == {"doc_id"}, f"unexpected exchange keys: {keys}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_quality_repetition_is_shuffle_free(spark, sf_dir):
    """The top-token run-length fold must stay a narrow per-row
    expression: no Exchange (the explode+groupBy formulation the DuckDB
    oracle uses would shuffle twice per corpus at 100 TB) and no Python
    eval nodes."""
    from harvesting_validator_spark.queries import textops

    plan = _plan(textops.q_quality_repetition(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    plan_pii = _plan(textops.q_pii_scrub(spark, sf_dir))
    assert "Exchange" not in plan_pii
    assert "BatchEvalPython" not in plan_pii


def test_eventops_single_user_exchange(spark, sf_dir):
    """Sessionization and the as-of join are ONE-shuffle operators: the
    plan contains exactly one hash exchange, keyed by user_id alone (the
    window partition key); the rollup must reuse the window's
    partitioning. Both the full key list of every exchange AND the
    exchange count are asserted — a regression that adds a second
    exchange (e.g. on (user_id, session_seq)) fails either way."""
    import re

    from harvesting_validator_spark.queries import eventops

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for q in (eventops.q_sessionize_events, eventops.q_asof_last_action):
            plan = _plan(q(spark, sf_dir))
            exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
            assert len(exchanges) == 1, f"{len(exchanges)} exchanges:\n{plan}"
            keys = {
                re.sub(r"#\d+L?", "", tok).strip()
                for tok in exchanges[0].split(",")
            }
            keys -= {t for t in keys if t.isdigit()}  # partition count arg
            assert keys == {"user_id"}, f"unexpected exchange keys: {keys}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_range_join_is_bucketized_equi_join(spark, sf_dir):
    """The incident range join must plan as an equi-join on
    (user_id, bucket) — never BroadcastNestedLoopJoin/CartesianProduct,
    which is what a naive inequality join degenerates to and what melts
    at corpus scale."""
    from harvesting_validator_spark.queries import graphops

    plan = _plan(graphops.q_range_join_incidents(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # it IS a join, just an equi one


def test_pagerank_edges_never_reshuffled(spark, sf_dir):
    """The PageRank loop's edge side must come from the layout-preserving
    persisted repartition (InMemoryTableScan advertising the loop key)
    with no Exchange re-distributing the edge relation inside the loop.
    At test sf the |V| bound picks the broadcast-ranks/dst-partitioned
    shape, so the ONLY hash exchanges in the whole plan are the one-time
    edge materialization (the pair distinct on ``c`` and the
    repartition on ``dst``); per-round rank vectors travel as size-
    checked broadcasts and the contribution groupBy aggregates in place.
    (The earlier ``repartition.localCheckpoint`` shape silently regressed
    to K full-edge shuffles because PySpark's localCheckpoint re-enters
    as ``Scan ExistingRDD, UnknownPartitioning``.)"""
    import re

    from harvesting_validator_spark.queries import graphops

    plan = _formatted(graphops.q_pagerank_bipartite(spark, sf_dir))
    assert "InMemoryTableScan" in plan
    keys = {
        k.split("#")[0]
        for k in re.findall(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan)
    }
    assert keys <= {"c", "dst"}, f"unexpected loop-side exchange keys {keys}"


def test_corpusops_plan_shapes(spark, sf_dir):
    """corpusops stays Catalyst-side and shuffle-lean:

    - event_anomaly: ONE user_id hash exchange serves both the
      (user, day) groupBy and the per-user moment window (subset
      co-partitioning) — a second exchange means the repartition hint
      stopped being reused;
    - mixture_weights: the 1-row total joins via broadcast, never a
      shuffled join;
    - all three: zero Python eval nodes.
    """
    import re

    from harvesting_validator_spark.queries import corpusops

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(corpusops.q_event_anomaly(spark, sf_dir))
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(exchanges) == 1, f"{len(exchanges)} exchanges:\n{plan}"
        keys = {
            re.sub(r"#\d+L?", "", tok).strip()
            for tok in exchanges[0].split(",")
        }
        keys -= {t for t in keys if t.isdigit()}
        assert keys == {"user_id"}, f"unexpected exchange keys: {keys}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    plan_mix = _plan(corpusops.q_mixture_weights(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan_mix or "BroadcastExchange" in plan_mix
    assert "SortMergeJoin" not in plan_mix
    for q in corpusops.QUERIES.values():
        p = _plan(q(spark, sf_dir))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_path_validation_reuses_single_doc_id_exchange(spark):
    """Property-path expressions must not add exchanges: the inverse
    join keys (doc_id, object) and each sequence hop keys (doc_id, subj)
    — all doc_id-prefixed supersets of the parse repartition, so with
    subset co-partitioning the whole path machinery rides the SAME
    single exchange as plain validation (and stays JVM-side)."""
    import re

    from harvesting_validator_spark.shacl.compile import validate
    from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import (
        PATH_PROFILE,
        generate_path_sources,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        t = parse_sources_to_triples(
            generate_path_sources(spark, 100), repartition_by_doc=True
        )
        shapes = parse_shapes_turtle(PATH_PROFILE)
        v = validate(t, shapes, spark, cache_intermediate=False)
        plan = _plan(v.select("doc_id").distinct())
        keys = {
            re.sub(r"#\d+L?", "", m).strip()
            for m in re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
        }
        assert keys == {"doc_id"}, f"unexpected exchange keys: {keys}"
        assert "ArrowEvalPython" not in plan.replace(
            "ArrowEvalPython", "", 1
        )  # exactly the one sanctioned parse kernel
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_sparql_bgp_reuses_single_doc_id_exchange(spark):
    """The SPARQL engine's scale property: graph-scoped BGP self-joins and
    graph-keyed aggregates are keyed on doc_id-prefixed supersets of the
    parse repartition, so (broadcasts off, AQE off — the at-100TB shape)
    the roster's 3-pattern join + OPTIONAL and the per-graph COUNT(*)
    both shuffle the corpus exactly once: no hash exchange on any key
    other than (doc_id,), and no exchange keyed on the hex display form.
    Also: zero Python eval nodes — the whole stack is Catalyst."""
    import re

    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import generate_sources
    from harvesting_validator_spark.sparql import sparql_select

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    t = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # the pipeline shape: parsed triples persisted once (run_validation
        # does the same) — the cache advertises HashPartitioning(doc_id)
        t = parse_sources_to_triples(
            generate_sources(spark, 100), repartition_by_doc=True
        ).persist()
        t.count()  # full-width materialization (CLAUDE.md invariant)
        roster = sparql_select(t, """
            PREFIX ex: <http://example.com/ns#>
            SELECT ?g ?person ?ssn ?company WHERE {
              GRAPH ?g {
                ?person a ex:Person ; ex:ssn ?ssn .
                OPTIONAL { ?person ex:worksFor ?company }
              }
            }""")
        sizes = sparql_select(
            t,
            "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } "
            "GROUP BY ?g",
        )
        for df in (roster, sizes):
            plan = _plan(df)
            keys = {
                re.sub(r"#\d+L?", "", m).strip()
                for m in re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
            }
            assert keys <= {"doc_id"}, f"unexpected exchange keys: {keys}"
            # every Exchange occurrence must be the ONE cached parse
            # repartition (same plan_id, printed once per cache scan):
            # BGP self-joins and the graph groupBy add NO new shuffle —
            # they ride the advertised doc_id layout via subset
            # co-partitioning. The hex display conversion folds ABOVE
            # the aggregate (binary ids through the exchange).
            ids = set(re.findall(r"Exchange hashpartitioning.*plan_id=(\d+)", plan))
            assert len(ids) <= 1, f"multiple distinct exchanges: {plan}"
            # constant triple-pattern positions reach the cache scan as
            # pushed filters, not post-scan Filter nodes
            assert "InMemoryTableScan" in plan
            assert "BatchEvalPython" not in plan
            assert "ArrowEvalPython" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
        assert "partial_count" in _plan(sizes)  # map-side combine
    finally:
        if t is not None:
            t.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_sparql_values_broadcasts_constant_table(spark):
    """The VALUES join-compatibility condition (val IS NULL OR term
    equality) is not an equijoin, so Spark plans a nested-loop join —
    acceptable ONLY as a broadcast of the constant inline table, never a
    CartesianProduct over the corpus."""
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import generate_sources
    from harvesting_validator_spark.sparql import sparql_select

    t = parse_sources_to_triples(
        generate_sources(spark, 50), repartition_by_doc=True
    )
    df = sparql_select(t, """
        PREFIX ex: <http://example.com/ns#>
        SELECT ?p ?co WHERE {
          GRAPH ?g { ?p a ex:Person .
                     OPTIONAL { ?p ex:worksFor ?co } }
          VALUES ?co { <http://example.com/ns#NoSuchCompany> }
        }""")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan
    assert df.count() == 50  # all persons: unbound ?co is compatible


def test_sparql_update_joins_stay_hash_based(spark, sf_dir):
    """The update path's scale shape (sparql.py::sparql_update): the
    full-quad delete anti-join and insert novelty probe are HASH joins
    on the null-safe quad keys with doc_id leading — solution-sized
    sides broadcast (corpus side untouched: zero extra exchange) or, past
    the threshold, shuffle doc_id-first into the corpus partitioning.
    Never a nested loop: a BNLJ here would be |corpus| x |delta|."""
    from harvesting_validator_spark.queries import sparqlq

    plan = _plan(sparqlq.q_sparql_update_redaction(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti, "update plan lost its anti-joins"
    for line in anti:
        assert "HashJoin" in line, f"non-hash anti-join: {line}"
        # doc_id is the leading join key (subset co-partitioning)
        assert line.find("doc_id") < line.find("subj")
