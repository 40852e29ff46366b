"""KG-construction pipeline queries with analytic DuckDB oracles.

These run the REAL pipeline (mapInPandas RDF parse -> SHACL-compiled
Catalyst predicates -> valid/error split -> report emission) over the
deterministic synthetic corpus (sources/synthetic.py). The corpus size
scales with the sf dir (n = count(documents)), and every per-doc outcome
has a closed form in the doc index i (i%10==7 -> bad ssn pattern, ==8 ->
maxCount, ==9 -> closed+class; SURVEY.md §5), so the DuckDB oracle derives
the expected verdicts/splits/reports analytically from range(n) — hashing
doc_ids with the same sha256(repo\\x1fpath\\x1fcommit) recipe. A hash match
here certifies the parser, the constraint compiler, the filter semantics
(FilteringService.java:119-131 analog) and the report emitter in one go.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from harvesting_validator_spark.plans.pipeline import (
    hex_doc_id,
    run_kg_construction,
    run_validation,
)
from harvesting_validator_spark.queries.common import tbl
from harvesting_validator_spark.runtime import loop_width
from harvesting_validator_spark.sources.synthetic import (
    APPLICATION_PROFILE,
    ENTITY_PROFILE,
    PATH_PROFILE,
    PRODUCT_PROFILE,
    QUALIFIED_PROFILE,
    REC_PATH_PROFILE,
    SPARQL_RULE_PROFILE,
    generate_chain_sources,
    generate_entity_sources,
    generate_path_sources,
    generate_product_sources,
    generate_qualified_sources,
    generate_recursive_path_sources,
    generate_sources,
    generate_sparql_rule_sources,
)

_RUN_CACHE: dict = {}
_KG_CACHE: dict = {}


def _corpus_n(spark, sf_dir: str) -> int:
    return tbl(spark, sf_dir, "documents").count()


def _build_width(n_docs: int) -> int:
    """``runtime.loop_width`` target while a pipeline over ``n_docs``
    BUILDS (the builders materialize their heavy stages eagerly:
    violations.count(), union-find probes). AQE partition coalescing is
    deliberately OFF (session.py — byte-sized coalescing collapses this
    engine's highly compressible IRI shuffles), so small driver-gate
    corpora otherwise pay ~64 near-empty reduce tasks per exchange across
    ~10 stages — pure scheduling overhead."""
    return n_docs // 250 + 4


def _validation_run(spark, sf_dir, tag, generate, profile):
    """One validation run of ``profile`` over ``generate(spark, n)`` per
    (session, sf_dir, tag); queries share the cached triples/violations
    so the driver's per-query calls don't re-parse."""
    key = (id(spark), sf_dir, tag)
    if key not in _RUN_CACHE:
        n = _corpus_n(spark, sf_dir)
        sources = generate(spark, n)
        with loop_width(spark, _build_width(n)):
            _RUN_CACHE[key] = run_validation(spark, sources, profile)
    return _RUN_CACHE[key]


def _run(spark, sf_dir):
    return _validation_run(
        spark, sf_dir, "app", generate_sources, APPLICATION_PROFILE
    )


# oracle prelude: reconstruct (i, doc_id, mode) exactly as generate_sources
_ORACLE_BASE = """
WITH idx AS (
  -- documents.doc_id is sequential 0..n-1, reused as the corpus index i
  SELECT doc_id AS i,
         doc_id % 10 AS mode,
         sha256(
           printf('repo%d', doc_id % 16) || chr(31) ||
           ('data/pages/page' || doc_id || '.' ||
            CASE doc_id % 5 WHEN 0 THEN 'ttl' WHEN 1 THEN 'nt' WHEN 3 THEN 'rdf' ELSE 'jsonld' END)
           || chr(31) ||
           substr(sha256(printf('commit%d', doc_id)), 1, 40)
         ) AS doc_id
  FROM documents
)
"""


# --- per-doc conformance verdicts (north_star rollup; SURVEY §2.4) -----------
def q_kg_verdicts(spark, sf_dir):
    # pipeline-internal doc_id is binary (shuffle-width, see add_doc_id);
    # the driver edge re-hexes AFTER the per-doc rollup so values equal
    # the oracle's sha256 hex exactly
    return hex_doc_id(_run(spark, sf_dir).verdicts)


O_VERDICTS = (
    _ORACLE_BASE
    + """
SELECT doc_id,
       CAST(CASE mode WHEN 7 THEN 1 WHEN 8 THEN 1 WHEN 9 THEN 2 ELSE 0 END AS BIGINT)
         AS n_violations,
       TRUE AS parse_ok,
       mode < 7 AS conforms
FROM idx
"""
)


# --- valid/error split sizes (F1+F2, FilteringService.java:94-131) ------------
def _split_rollup(docs, valid, error):
    nv = valid.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nv"))
    ne = error.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ne"))
    return hex_doc_id(
        docs.join(nv, "doc_id", "left")
        .join(ne, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nv", F.lit(0)).alias("n_valid"),
            F.coalesce("ne", F.lit(0)).alias("n_error"),
        )
    )


def q_kg_split_counts(spark, sf_dir):
    run = _run(spark, sf_dir)
    return _split_rollup(
        run.verdicts.select("doc_id"), run.valid_triples, run.error_triples
    )


def q_kg_strict_split_counts(spark, sf_dir):
    """strictModeFiltering=true split (`ApplicationConfig.java:38-39,52-56`,
    default false at `application.yml:7`): any violated focus node is
    dropped WHOLE. Same pinned semantics run_validation(strict=True) uses —
    strict only changes the split stage, so the cached run's
    triples/focus/violations are reused (see split_valid_error)."""
    from harvesting_validator_spark.operators.filtering import split_valid_error

    run = _run(spark, sf_dir)
    valid, error = split_valid_error(
        run.triples, run.focus, run.violations, strict=True
    )
    return _split_rollup(run.verdicts.select("doc_id"), valid, error)


O_SPLIT = (
    _ORACLE_BASE
    + """
SELECT doc_id,
       CAST(CASE mode WHEN 7 THEN 1 WHEN 8 THEN 1 WHEN 9 THEN 2 ELSE 2 END AS BIGINT) AS n_valid,
       CAST(CASE mode WHEN 7 THEN 1 WHEN 8 THEN 2 WHEN 9 THEN 2 ELSE 0 END AS BIGINT) AS n_error
FROM idx
"""
)

# strict: every triple of a violated focus drops — doc totals are
# 2/3/3/4 triples for modes <7/7/8/9 (mode 8 has 2 ssns, mode 9 adds
# hobby+worksFor), all of them valid when conforming, all error otherwise
O_STRICT_SPLIT = (
    _ORACLE_BASE
    + """
SELECT doc_id,
       CAST(CASE WHEN mode < 7 THEN 2 ELSE 0 END AS BIGINT) AS n_valid,
       CAST(CASE mode WHEN 7 THEN 2 WHEN 8 THEN 3 WHEN 9 THEN 4 ELSE 0 END AS BIGINT) AS n_error
FROM idx
"""
)


# --- violations by constraint component (XlsReportService.java:73-88 analog) --
def q_kg_report_rollup(spark, sf_dir):
    run = _run(spark, sf_dir)
    local = F.element_at(F.split("constraint_component", "[/#]"), -1)
    return run.violations.groupBy(local.alias("component")).agg(
        F.count(F.lit(1)).alias("n")
    )


O_ROLLUP = (
    _ORACLE_BASE
    + """
SELECT component, n FROM (
  SELECT 'PatternConstraintComponent' AS component,
         count(*) FILTER (WHERE mode = 7) AS n FROM idx
  UNION ALL
  SELECT 'MaxCountConstraintComponent', count(*) FILTER (WHERE mode = 8) FROM idx
  UNION ALL
  SELECT 'ClosedConstraintComponent', count(*) FILTER (WHERE mode = 9) FROM idx
  UNION ALL
  SELECT 'ClassConstraintComponent', count(*) FILTER (WHERE mode = 9) FROM idx
)
WHERE n > 0
"""
)


# --- violations by result-path local name (A3 + C3) ----------------------------
def q_kg_violation_paths(spark, sf_dir):
    run = _run(spark, sf_dir)
    local = F.element_at(F.split("result_path", "[/#]"), -1)
    return (
        run.violations.filter(F.col("result_path").isNotNull())
        .groupBy(local.alias("path"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_PATHS = (
    _ORACLE_BASE
    + """
SELECT path, n FROM (
  SELECT 'ssn' AS path,
         count(*) FILTER (WHERE mode IN (7, 8)) AS n FROM idx
  UNION ALL
  SELECT 'hobby', count(*) FILTER (WHERE mode = 9) FROM idx
  UNION ALL
  SELECT 'worksFor', count(*) FILTER (WHERE mode = 9) FROM idx
)
WHERE n > 0
"""
)


# --- report-triple emission size per doc (report model, skolemized) -------------
def q_kg_report_sizes(spark, sf_dir):
    """Validation-report triples per non-conforming doc: 7 fixed triples
    per result + resultPath/value when present + 2 report-header triples."""
    run = _run(spark, sf_dir)
    return hex_doc_id(
        run.report.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_report_triples")
        )
    )


O_REPORT_SIZES = (
    _ORACLE_BASE
    + """
SELECT doc_id,
       CAST(CASE mode WHEN 7 THEN 11 WHEN 8 THEN 10 WHEN 9 THEN 20 END AS BIGINT)
         AS n_report_triples
FROM idx
WHERE mode >= 7
"""
)


# --- content sha256 invariant on the synthetic corpus (input_hint, C8) ----------
def q_kg_content_invariant(spark, sf_dir):
    """Re-derive sha256(content) per doc and count distinct hashes — the
    per-row invariant the north_rule demands vs the source table (exact
    per-row equality is asserted in tests; here the rollup is
    oracle-checked)."""
    n = _corpus_n(spark, sf_dir)
    sources = generate_sources(spark, n)
    return sources.select(
        F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256).alias("doc_id"),
        F.sha2("content", 256).alias("content_sha256"),
    ).groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("content_sha256").alias("n_distinct_contents"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
    )


O_CONTENT_INVARIANT = """
SELECT count(*) AS n_rows,
       count(*) AS n_distinct_contents,
       count(*) AS n_distinct_docs
FROM documents
"""


def _kg_run(spark, sf_dir):
    """Entity-linking pipeline over the duplicate-entity corpus:
    n docs, K = n//10 real-world entities (closed-form ground truth)."""
    key = (id(spark), sf_dir)
    if key not in _KG_CACHE:
        n = _corpus_n(spark, sf_dir)
        sources = generate_entity_sources(spark, n, n_entities=n // 10)
        # strong keys (ssn) exist in this corpus -> exact key blocking,
        # per the run_kg_construction selection rule: minhash banding over
        # its LOW-ENTROPY attribute text (4 of ~6 tokens shared by every
        # doc) degenerates toward quadratic candidates (measured 7.37M
        # candidate pairs for 22.5k true pairs at 5k docs). The shared
        # LSH operator behind minhash blocking (lsh.lsh_pairs) is
        # exercised and benched on the high-entropy documents corpus via
        # minhash_lsh_pairs / lsh_verified_pairs, and on noisy entity
        # pages by perfbench's kg_build workload.
        with loop_width(spark, _build_width(n)):
            _KG_CACHE[key] = run_kg_construction(
                spark, sources, ENTITY_PROFILE, blocking="key"
            )
    return _KG_CACHE[key]


# --- union-find cluster rollup (north_star canonicalization) -------------------
def q_kg_linked_clusters(spark, sf_dir):
    run = _kg_run(spark, sf_dir)
    return run.mapping.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_members")
    )


O_LINKED_CLUSTERS = """
WITH k AS (SELECT count(*) // 10 AS k FROM documents)
SELECT printf('http://example.com/ns#E%06d', doc_id % (SELECT k FROM k)) AS canonical,
       count(*) AS n_members
FROM documents
GROUP BY 1
"""


# --- multi-hop union-find over chain-shaped equivalences -------------------------
_CHAIN_LEN = 8


def q_kg_chain_clusters(spark, sf_dir):
    """Chain corpus: E_i links E_{i+1} only (exact-key blocking); the
    transitive closure needs O(log L) label-propagation rounds — this
    checks the ITERATIVE part of union-find through the oracle, not just
    one-hop cliques."""
    from harvesting_validator_spark.kg.canonicalize import canonical_mapping
    from harvesting_validator_spark.kg.linking import (
        block_candidates_by_key,
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.kg.normalize import normalize_triples
    from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples

    n = _corpus_n(spark, sf_dir)
    sources = generate_chain_sources(spark, n, chain_len=_CHAIN_LEN)
    with loop_width(spark, _build_width(n)):
        triples = normalize_triples(parse_sources_to_triples(sources))
        mentions = extract_mentions(triples)
        edges = link_edges(block_candidates_by_key(mentions), threshold=0.9)
        mapping = canonical_mapping(mentions.select("entity"), edges)
    return mapping.groupBy("canonical").agg(F.count(F.lit(1)).alias("n_members"))


O_CHAIN_CLUSTERS = f"""
SELECT printf('http://example.com/ns#E%06d', (doc_id // {_CHAIN_LEN}) * {_CHAIN_LEN})
         AS canonical,
       count(*) AS n_members
FROM documents
GROUP BY 1
"""


# --- incremental union-find (steady-state entity-resolution ingest) -------------
def q_kg_incremental_clusters(spark, sf_dir):
    """Two-batch incremental canonicalization: even-indexed docs arrive
    first (full union-find), odd-indexed docs arrive as a second batch
    folded in via merge_components — the loop runs only on the projected
    DELTA graph, never the historical edges. The oracle is the SAME
    closed form as the one-shot kg_linked_clusters, so a hash match
    proves incremental == batch exactly."""
    from harvesting_validator_spark.kg.canonicalize import (
        canonical_mapping,
        merge_components,
    )
    from harvesting_validator_spark.kg.linking import (
        block_candidates_by_key,
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.kg.normalize import normalize_triples
    from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples

    n = _corpus_n(spark, sf_dir)
    sources = generate_entity_sources(spark, n, n_entities=n // 10)
    with loop_width(spark, _build_width(n)):
        triples = normalize_triples(parse_sources_to_triples(sources))
        mentions = extract_mentions(triples)
        # doc i <-> entity E%06d(i): last-digit parity splits the batches
        par = F.substring("entity", -1, 1).cast("int") % 2
        m1 = mentions.filter(par == 0)
        edges1 = link_edges(block_candidates_by_key(m1), threshold=0.9)
        mapping1 = canonical_mapping(m1.select("entity"), edges1)
        # delta edges: every pair touching a batch-2 entity (production
        # derives these by probing the batch against the key index, the
        # dedup_incremental_novel shape; edges fully inside batch 1 are
        # already folded into mapping1)
        all_edges = link_edges(block_candidates_by_key(mentions), threshold=0.9)
        src_par = F.substring("src", -1, 1).cast("int") % 2
        dst_par = F.substring("dst", -1, 1).cast("int") % 2
        delta_edges = all_edges.filter((src_par == 1) | (dst_par == 1))
        merged = merge_components(mapping1, delta_edges)
        final = (
            mentions.select("entity")
            .distinct()
            .join(merged, "entity", "left")
            .select(
                "entity",
                F.coalesce("canonical", F.col("entity")).alias("canonical"),
            )
        )
    return final.groupBy("canonical").agg(F.count(F.lit(1)).alias("n_members"))


# --- deduplicated canonical (s,p,o) graph (north_rule materialization) ----------
def q_kg_canonical_graph(spark, sf_dir):
    run = _kg_run(spark, sf_dir)
    local = F.element_at(F.split("pred", "[/#]"), -1)
    return run.graph.select("subj", local.alias("pred_local"), "obj_value")


O_CANONICAL_GRAPH = """
WITH k AS (SELECT count(*) // 10 AS k, count(*) AS n FROM documents),
grp AS (SELECT DISTINCT doc_id % (SELECT k FROM k) AS r FROM documents)
SELECT subj, pred_local, obj_value FROM (
  SELECT printf('http://example.com/ns#E%06d', r) AS subj, 'type' AS pred_local,
         'http://example.com/ns#Person' AS obj_value FROM grp
  UNION ALL
  SELECT printf('http://example.com/ns#E%06d', r), 'name',
         'Person ' || r || ' Name' FROM grp
  UNION ALL
  SELECT printf('http://example.com/ns#E%06d', r), 'ssn',
         printf('%03d-%02d-%04d', r % 1000, (r * 7) % 100, (r * 13) % 10000) FROM grp
)
"""


# --- linker precision/recall vs closed-form ground truth ------------------------
def q_kg_linking_quality(spark, sf_dir):
    """North-rule P/R criterion as a DRIVER-CHECKED query: run the real
    linker (parse -> mentions -> strong-key blocking -> Catalyst pair
    scoring at threshold 0.9) over a corpus with controlled noise
    (generate_noisy_entity_sources: i%7==3 corrupts the key -> false
    negatives; g%5==4 borrows the previous group's key and the 5/7-token
    name overlap + key bonus clears the threshold -> false positives),
    and report pair-level precision / recall / F1 against the closed-form
    ground truth. The oracle derives every count analytically, so a hash
    match certifies the whole evaluation, not just the plumbing."""
    from harvesting_validator_spark.kg.linking import (
        block_candidates_by_key,
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.kg.normalize import normalize_triples
    from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples
    from harvesting_validator_spark.sources.synthetic import (
        generate_noisy_entity_sources,
    )

    n = _corpus_n(spark, sf_dir)
    k = max(2, n // 10)
    sources = generate_noisy_entity_sources(spark, n, n_entities=k)

    def g_of(col):
        # truth label: doc index i is the M%09d suffix of the mention IRI
        return F.substring(col, -9, 9).cast("bigint") % k

    with loop_width(spark, _build_width(n)):
        triples = normalize_triples(parse_sources_to_triples(sources))
        mentions = extract_mentions(triples)
        edges = link_edges(block_candidates_by_key(mentions), threshold=0.9)
        truth = (
            mentions.select(g_of(F.col("entity")).alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(
                F.sum(F.expr("m * (m - 1) div 2"))
                .cast("bigint")
                .alias("n_true_pairs")
            )
        )
        pred = edges.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pred_pairs"),
            F.count(
                F.when(g_of(F.col("src")) == g_of(F.col("dst")), 1)
            ).cast("bigint").alias("n_tp"),
        )
    p = F.col("n_tp") / F.col("n_pred_pairs")
    r = F.col("n_tp") / F.col("n_true_pairs")
    f1 = F.lit(2) * p * r / (p + r)

    def half_up6(c):
        # CLAUDE.md rounding invariant: half-up on both engines
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return pred.crossJoin(truth).select(
        "n_true_pairs",
        "n_pred_pairs",
        "n_tp",
        F.when(F.col("n_pred_pairs") > 0, half_up6(p)).alias("link_precision"),
        F.when(F.col("n_true_pairs") > 0, half_up6(r)).alias("link_recall"),
        F.when(F.col("n_tp") > 0, half_up6(f1)).alias("link_f1"),
    )


O_LINKING_QUALITY = """
WITH kk AS (SELECT GREATEST(2, count(*) // 10) AS k FROM documents),
d AS (
  SELECT doc_id % (SELECT k FROM kk) AS g,
         doc_id % 7 = 3 AS corrupt
  FROM documents
),
grp AS (
  SELECT g, count(*) AS m, count(*) FILTER (WHERE NOT corrupt) AS mc
  FROM d GROUP BY g
),
agg AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_true_pairs,
         CAST(sum(mc * (mc - 1) // 2) AS BIGINT) AS n_tp
  FROM grp
),
x AS (
  -- predicted cross-group pairs: group b (b.g%5==4) carries group
  -- a=b-1's key; only non-corrupt docs participate
  SELECT CAST(coalesce(sum(a.mc * b.mc), 0) AS BIGINT) AS n_cross
  FROM grp b JOIN grp a ON a.g = b.g - 1
  WHERE b.g % 5 = 4
)
SELECT n_true_pairs,
       n_tp + n_cross AS n_pred_pairs,
       n_tp,
       CASE WHEN n_tp + n_cross > 0 THEN
         floor(CAST(n_tp AS DOUBLE) / (n_tp + n_cross) * 1e6 + 0.5) / 1e6
       END AS link_precision,
       CASE WHEN n_true_pairs > 0 THEN
         floor(CAST(n_tp AS DOUBLE) / n_true_pairs * 1e6 + 0.5) / 1e6
       END AS link_recall,
       CASE WHEN n_tp > 0 THEN
         floor(2 * (CAST(n_tp AS DOUBLE) / (n_tp + n_cross))
                 * (CAST(n_tp AS DOUBLE) / n_true_pairs)
               / (CAST(n_tp AS DOUBLE) / (n_tp + n_cross)
                  + CAST(n_tp AS DOUBLE) / n_true_pairs) * 1e6 + 0.5) / 1e6
       END AS link_f1
FROM agg, x
"""


# --- extension-constraint verdicts (SHACL-core breadth: ranges, langIn,
# uniqueLang, property pairs) over the closed-form product corpus ----------
def q_kg_extended_verdicts(spark, sf_dir):
    """Same pipeline as kg_verdicts but with PRODUCT_PROFILE — certifies
    the extension constraint components (shacl/compile.py pass 2 ranges/
    languageIn, pass 3b uniqueLang, pass 5 property pairs) end-to-end at
    the driver, not just in unit tests."""
    return hex_doc_id(_validation_run(
        spark, sf_dir, "ext", generate_product_sources, PRODUCT_PROFILE
    ).verdicts)


O_EXTENDED_VERDICTS = """
WITH idx AS (
  SELECT doc_id AS i,
         doc_id % 8 AS mode,
         sha256(
           printf('repo%d', doc_id % 16) || chr(31) ||
           ('data/products/prod' || doc_id || '.ttl') || chr(31) ||
           substr(sha256(printf('commit%d', doc_id)), 1, 40)
         ) AS doc_id
  FROM documents
)
SELECT doc_id,
       CAST(CASE mode WHEN 0 THEN 0 WHEN 5 THEN 2 ELSE 1 END AS BIGINT)
         AS n_violations,
       TRUE AS parse_ok,
       mode = 0 AS conforms
FROM idx
"""


def q_kg_qualified_verdicts(spark, sf_dir):
    """Same pipeline as kg_extended_verdicts but with QUALIFIED_PROFILE —
    certifies the shape-valued components (sh:qualifiedValueShape with
    min/max counts via the recursive conformance probe, node-level
    sh:not) and the implicit target selectors (sh:targetSubjectsOf) at
    the driver, closed-form by doc mode (i%6)."""
    return hex_doc_id(_validation_run(
        spark, sf_dir, "qual", generate_qualified_sources, QUALIFIED_PROFILE
    ).verdicts)


O_QUALIFIED_VERDICTS = """
WITH idx AS (
  SELECT doc_id AS i,
         doc_id % 6 AS mode,
         sha256(
           printf('repo%d', doc_id % 16) || chr(31) ||
           ('data/owners/own' || doc_id || '.ttl') || chr(31) ||
           substr(sha256(printf('commit%d', doc_id)), 1, 40)
         ) AS doc_id
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN mode IN (0, 5) THEN 0 ELSE 1 END AS BIGINT)
         AS n_violations,
       TRUE AS parse_ok,
       mode IN (0, 5) AS conforms
FROM idx
"""


def q_kg_path_verdicts(spark, sf_dir):
    """Same pipeline as kg_extended_verdicts but with PATH_PROFILE —
    certifies the property-path expressions (2-hop sequence path with
    value-node SET semantics, inverse path, and the r5-wave-3 NESTED
    coworker path worksFor/^worksFor — an inverse step inside a
    sequence; shacl/compile.py _path_value_frames) end-to-end at the
    driver, closed-form by doc mode (i%6): see
    generate_path_sources."""
    return hex_doc_id(_validation_run(
        spark, sf_dir, "path", generate_path_sources, PATH_PROFILE
    ).verdicts)


O_PATH_VERDICTS = """
WITH idx AS (
  SELECT doc_id AS i,
         doc_id % 6 AS mode,
         sha256(
           printf('repo%d', doc_id % 16) || chr(31) ||
           ('data/paths/emp' || doc_id || '.ttl') || chr(31) ||
           substr(sha256(printf('commit%d', doc_id)), 1, 40)
         ) AS doc_id
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN mode IN (0, 4) THEN 0 ELSE 1 END AS BIGINT)
         AS n_violations,
       TRUE AS parse_ok,
       mode IN (0, 4) AS conforms
FROM idx
"""


def q_kg_recursive_verdicts(spark, sf_dir):
    """Same pipeline with REC_PATH_PROFILE — certifies the remaining
    path expressions (recursive closure p*/p+ incl. cycle handling,
    alternativePath union, zeroOrOnePath focus-inclusion;
    shacl/compile.py _path_value_frames) end-to-end at the driver,
    closed-form by doc mode (i%6): see
    generate_recursive_path_sources."""
    return hex_doc_id(_rec_run(spark, sf_dir).verdicts)


def _rec_run(spark, sf_dir):
    """Cached recursive-path validation run — the shared accessor for
    this module and sparqlq's reachable rollup (reaching into the cache
    with a hand-copied key tuple broke silently on key-shape changes)."""
    run = _validation_run(
        spark, sf_dir, "recpath", generate_recursive_path_sources,
        REC_PATH_PROFILE,
    )
    # the triples-only cache (if _rec_triples ran first) is now
    # redundant — the full run's triples supersede it; release the
    # persisted parse instead of pinning two copies
    stale = _RUN_CACHE.pop((id(spark), sf_dir, "recpath-triples"), None)
    if stale is not None:
        stale.cleanup()
    return run


class _TriplesOnlyRun:
    """Parse-only stand-in for a ValidationRun: exposes ``triples`` and
    the ``cleanup()`` contract the bench's cache sweeps rely on."""

    def __init__(self, triples, persisted):
        self.triples = triples
        self._persisted = persisted

    def cleanup(self) -> None:
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass


def _rec_triples(spark, sf_dir):
    """Parsed triples of the recursive-path corpus WITHOUT running the
    SHACL validation (r6, guide §1.2 "don't compute things you throw
    away"): sparql_reachable_rollup reads ONLY ``run.triples``, yet the
    shared ``_rec_run`` accessor eagerly materializes the whole
    REC_PATH_PROFILE closure validation (``violations.count()`` —
    measured ~20s at sf1.0) before handing the triples over. The
    SPARQL-side query plans are identical either way (same parse kernel,
    same single doc_id exchange); only the untouched validation branch
    disappears. ``kg_recursive_verdicts`` still builds the full run via
    ``_rec_run``; when that run is already cached its triples are
    reused here instead of re-parsing.

    Lifetime: once ``_rec_run`` builds the full run it releases this
    parse cache, so a frame returned from here earlier (e.g. a
    ``sparql_reachable_rollup`` result) re-runs the whole parse if
    evaluated again. Slower, never wrong (a ``persist()`` cache, not a
    checkpoint), and fine under the one-query-at-a-time driver
    contract."""
    full = _RUN_CACHE.get((id(spark), sf_dir, "recpath"))
    if full is not None:
        return full.triples
    key = (id(spark), sf_dir, "recpath-triples")
    if key not in _RUN_CACHE:
        from harvesting_validator_spark.plans.pipeline import add_doc_id
        from harvesting_validator_spark.sources.rdf_parse import (
            parse_sources_to_triples,
        )

        n = _corpus_n(spark, sf_dir)
        sources = generate_recursive_path_sources(spark, n)
        with loop_width(spark, _build_width(n)):
            triples = parse_sources_to_triples(
                add_doc_id(sources), repartition_by_doc=True
            ).persist()
            # full-width materialization before the query's many
            # column-pruned scans (house persist invariant)
            triples.count()
        _RUN_CACHE[key] = _TriplesOnlyRun(triples, [triples])
    return _RUN_CACHE[key].triples


O_RECURSIVE_VERDICTS = """
WITH idx AS (
  SELECT doc_id AS i,
         doc_id % 6 AS mode,
         sha256(
           printf('repo%d', doc_id % 16) || chr(31) ||
           ('data/recpaths/cat' || doc_id || '.ttl') || chr(31) ||
           substr(sha256(printf('commit%d', doc_id)), 1, 40)
         ) AS doc_id
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN mode IN (0, 5) THEN 0 ELSE 1 END AS BIGINT)
         AS n_violations,
       TRUE AS parse_ok,
       mode IN (0, 5) AS conforms
FROM idx
"""


def q_kg_sparql_verdicts(spark, sf_dir):
    """Same pipeline with SPARQL_RULE_PROFILE — certifies SPARQL-based
    constraints (sh:sparql with sh:prefixes/sh:message; shacl/compile.py
    pass 7: the SELECT compiles through the engine's own SPARQL compiler
    with per-document scoping) end-to-end at the driver, closed-form by
    doc mode (i%4): see generate_sparql_rule_sources."""
    return hex_doc_id(_validation_run(
        spark, sf_dir, "sparqlrule", generate_sparql_rule_sources,
        SPARQL_RULE_PROFILE,
    ).verdicts)


O_SPARQL_VERDICTS = """
WITH idx AS (
  SELECT doc_id AS i,
         doc_id % 4 AS mode,
         sha256(
           printf('repo%d', doc_id % 16) || chr(31) ||
           ('data/sparql/emp' || doc_id || '.ttl') || chr(31) ||
           substr(sha256(printf('commit%d', doc_id)), 1, 40)
         ) AS doc_id
  FROM documents
)
SELECT doc_id,
       CAST(CASE mode WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END AS BIGINT)
         AS n_violations,
       TRUE AS parse_ok,
       mode IN (0, 3) AS conforms
FROM idx
"""


QUERIES = {
    "kg_verdicts": q_kg_verdicts,
    "kg_extended_verdicts": q_kg_extended_verdicts,
    "kg_qualified_verdicts": q_kg_qualified_verdicts,
    "kg_path_verdicts": q_kg_path_verdicts,
    "kg_recursive_verdicts": q_kg_recursive_verdicts,
    "kg_sparql_verdicts": q_kg_sparql_verdicts,
    "kg_linked_clusters": q_kg_linked_clusters,
    "kg_incremental_clusters": q_kg_incremental_clusters,
    "kg_chain_clusters": q_kg_chain_clusters,
    "kg_canonical_graph": q_kg_canonical_graph,
    "kg_linking_quality": q_kg_linking_quality,
    "kg_split_counts": q_kg_split_counts,
    "kg_strict_split_counts": q_kg_strict_split_counts,
    "kg_report_rollup": q_kg_report_rollup,
    "kg_violation_paths": q_kg_violation_paths,
    "kg_report_sizes": q_kg_report_sizes,
    "kg_content_invariant": q_kg_content_invariant,
}

ORACLES = {
    "kg_verdicts": O_VERDICTS,
    "kg_extended_verdicts": O_EXTENDED_VERDICTS,
    "kg_qualified_verdicts": O_QUALIFIED_VERDICTS,
    "kg_path_verdicts": O_PATH_VERDICTS,
    "kg_recursive_verdicts": O_RECURSIVE_VERDICTS,
    "kg_sparql_verdicts": O_SPARQL_VERDICTS,
    "kg_linked_clusters": O_LINKED_CLUSTERS,
    "kg_incremental_clusters": O_LINKED_CLUSTERS,
    "kg_chain_clusters": O_CHAIN_CLUSTERS,
    "kg_canonical_graph": O_CANONICAL_GRAPH,
    "kg_linking_quality": O_LINKING_QUALITY,
    "kg_split_counts": O_SPLIT,
    "kg_strict_split_counts": O_STRICT_SPLIT,
    "kg_report_rollup": O_ROLLUP,
    "kg_violation_paths": O_PATHS,
    "kg_report_sizes": O_REPORT_SIZES,
    "kg_content_invariant": O_CONTENT_INVARIANT,
}
