"""SHACL shapes -> violations DataFrame, as declarative Spark plans.

Reference analog: ``shaclService.validate(graph)`` running Jena's SHACL
engine per document model (`FilteringService.java:67-68`; SURVEY.md §2.6).
Here every constraint compiles to Catalyst-pushable DataFrame predicates
over the long/narrow triples table — no per-row Python anywhere:

* value constraints (datatype, pattern, nodeKind, class, length, in,
  value ranges, languageIn) -> ``filter`` over the focus-joined triples;
* cardinality constraints -> one ``groupBy(doc_id, focus, pred).count()``
  shared by every shape, joined against a broadcast spec table;
* sh:uniqueLang -> one groupBy on the same (doc_id, focus, ...) prefix;
* property-pair constraints (equals/disjoint/lessThan[OrEquals]) ->
  self-joins of the cached focus⋈triples slice, keyed on the same
  (doc_id, focus) prefix so the existing exchange is reused;
* closed shapes -> ``~pred.isin(allowed)`` filters;
* nested node shapes -> focus-set derivation, re-using the same machinery.

Numeric comparison (ranges, lessThan): a literal counts as numeric iff it
matches `_NUM_RE`, then compares as DECIMAL(38,12) — identical rule in the
independent test evaluator (tests/reference_shacl.py), so "incomparable =>
violation" is regex-defined, not engine-defined. Magnitudes beyond
DECIMAL(38,12) are out of contract.

Scale notes (100 TB / 10^12 docs): the only shuffles are (1) the
focus⋈triples join, keyed (doc_id, node) — co-partitioned with every
other per-doc operation so the exchange is reused, and (2) the single
cardinality groupBy on the same key prefix. Shape/spec tables are tiny and
always broadcast. rdf:type skew (every doc has type triples) is bounded
because all joins carry doc_id in the key.

Violations schema (SURVEY §1.5):
    doc_id, shape, focus_node, result_path (null for node-level), value
    (null for cardinality), value_kind, constraint_component, severity,
    message
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvesting_validator_spark import runtime
from harvesting_validator_spark.shacl.model import (
    RDF_TYPE,
    SEVERITY_VIOLATION,
    SH,
    ShapesGraph,
)

XSD = "http://www.w3.org/2001/XMLSchema#"

# lexical-form validity per common xsd datatype (Jena flags ill-formed
# literals as datatype violations; unknown datatypes pass through)
_LEXICAL_RE = {
    XSD + "integer": r"^[+-]?\d+$",
    XSD + "int": r"^[+-]?\d+$",
    XSD + "long": r"^[+-]?\d+$",
    XSD + "decimal": r"^[+-]?(\d+(\.\d*)?|\.\d+)$",
    XSD + "double": r"^([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|NaN|INF|-INF)$",
    XSD + "float": r"^([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|NaN|INF|-INF)$",
    XSD + "boolean": r"^(true|false|0|1)$",
    XSD + "date": r"^-?\d{4}-\d{2}-\d{2}(Z|[+-]\d{2}:\d{2})?$",
    XSD + "dateTime": r"^-?\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?$",
}

# numeric gate for range / lessThan comparisons (see module docstring)
_NUM_RE = r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"
_DEC = "decimal(38,12)"

_NODEKIND_ALLOWED = {
    SH + "IRI": ("iri",),
    SH + "BlankNode": ("bnode",),
    SH + "Literal": ("literal",),
    SH + "BlankNodeOrIRI": ("bnode", "iri"),
    SH + "BlankNodeOrLiteral": ("bnode", "literal"),
    SH + "IRIOrLiteral": ("iri", "literal"),
}

VIOLATIONS_COLUMNS = (
    "doc_id", "shape", "focus_node", "result_path", "value", "value_kind",
    "constraint_component", "severity", "message", "source_shape",
)

_MAX_NESTING_DEPTH = 5

# the value columns a path step lands on (ftrip's object side)
_PATH_VALUE_COLS = ("obj_value", "obj_kind", "obj_datatype", "obj_lang")


def _union_all(dfs: list[DataFrame]) -> DataFrame | None:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return None
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def compute_focus(triples: DataFrame, shapes: ShapesGraph,
                  spark: SparkSession) -> DataFrame:
    """Focus-node table: (doc_id, focus_node, shape).

    targetClass focus = one broadcast join of the rdf:type slice against
    the tiny (class -> shape) spec; nested sh:node shapes derive child
    focus sets level by level (depth-bounded; the reference profiles nest
    at most once, `default.shaclc:12-15`).
    """
    frames: list[DataFrame] = []

    class_rows = [
        (s.iri, c) for s in shapes.shapes for c in s.target_classes
    ]
    if class_rows:
        spec = spark.createDataFrame(class_rows, "shape string, target_class string")
        typed = triples.filter(F.col("pred") == RDF_TYPE).select(
            "doc_id", F.col("subj").alias("focus_node"),
            F.col("obj_value").alias("cls"),
        )
        frames.append(
            typed.join(F.broadcast(spec), typed.cls == spec.target_class)
            .select("doc_id", "focus_node", "shape")
        )

    node_rows = [(s.iri, n) for s in shapes.shapes for n in s.target_nodes]
    if node_rows:
        spec_n = spark.createDataFrame(node_rows, "shape string, node string")
        docs = triples.select("doc_id").distinct()
        frames.append(
            docs.crossJoin(F.broadcast(spec_n)).select(
                "doc_id", F.col("node").alias("focus_node"), "shape"
            )
        )

    # implicit target selectors: one broadcast join each against the tiny
    # (pred -> shape) spec — same shape as the targetClass selector
    subj_rows = [
        (s.iri, p) for s in shapes.shapes for p in s.target_subjects_of
    ]
    if subj_rows:
        spec_s = spark.createDataFrame(subj_rows, "shape string, tpred string")
        frames.append(
            triples.join(F.broadcast(spec_s), triples.pred == spec_s.tpred)
            .select("doc_id", F.col("subj").alias("focus_node"), "shape")
        )
    obj_rows = [
        (s.iri, p) for s in shapes.shapes for p in s.target_objects_of
    ]
    if obj_rows:
        spec_o = spark.createDataFrame(obj_rows, "shape string, tpred string")
        frames.append(
            triples.filter(F.col("obj_kind") != "literal")
            .join(F.broadcast(spec_o), F.col("pred") == spec_o.tpred)
            .select("doc_id", F.col("obj_value").alias("focus_node"), "shape")
        )

    base = _union_all(frames)
    if base is None:
        return spark.createDataFrame(
            [], "doc_id binary, focus_node string, shape string"
        )

    # nested sh:node: child focus = value nodes of the parent property.
    # The loop depth is STATIC — the longest nesting path in the (tiny)
    # shapes graph — so plan construction stays action-free (the previous
    # data-driven isEmpty() probe cost one Spark job per level).
    nest_rows = [
        (s.iri, p.path, p.node_shape)
        for s in shapes.shapes
        for p in s.properties
        if p.node_shape and p.node_shape in shapes.by_id
    ]
    depth = _static_nesting_depth(shapes) if nest_rows else 0
    all_frames = [base]
    frontier = base
    if depth:
        nspec = spark.createDataFrame(
            nest_rows, "parent_shape string, path string, child_shape string"
        )
        for _ in range(depth):
            child = (
                frontier.alias("f")
                .join(
                    triples.alias("t"),
                    (F.col("f.doc_id") == F.col("t.doc_id"))
                    & (F.col("f.focus_node") == F.col("t.subj")),
                )
                .join(
                    F.broadcast(nspec),
                    (F.col("f.shape") == F.col("parent_shape"))
                    & (F.col("t.pred") == F.col("path")),
                )
                .filter(F.col("t.obj_kind") != "literal")
                .select(
                    F.col("t.doc_id").alias("doc_id"),
                    F.col("t.obj_value").alias("focus_node"),
                    F.col("child_shape").alias("shape"),
                )
                .distinct()
            )
            all_frames.append(child)
            frontier = child
    return _union_all(all_frames).distinct()


def _restrict_graph(shapes: ShapesGraph, ids: set) -> ShapesGraph:
    """Sub-graph containing the given shape ids plus every shape they
    reach via sh:node / sh:qualifiedValueShape / sh:not (cycle-safe)."""
    keep: set = set()
    frontier = {i for i in ids if i in shapes.by_id}
    while frontier:
        keep |= frontier
        nxt: set = set()
        for sid in frontier:
            s = shapes.by_id[sid]
            for ref in (
                s.not_shapes + s.and_shapes + s.or_shapes + s.xone_shapes
            ):
                nxt.add(ref)
            for p in s.properties:
                if p.node_shape:
                    nxt.add(p.node_shape)
                if p.qualified_shape:
                    nxt.add(p.qualified_shape)
        frontier = {i for i in nxt if i in shapes.by_id} - keep
    return ShapesGraph(
        shapes=tuple(s for s in shapes.shapes if s.iri in keep),
        by_id=shapes.by_id,
    )


def _static_nesting_depth(shapes: ShapesGraph) -> int:
    """Longest sh:node nesting path in the shapes graph (cycle-capped)."""
    children: dict[str, set[str]] = {}
    for s in shapes.shapes:
        for p in s.properties:
            if p.node_shape and p.node_shape in shapes.by_id:
                children.setdefault(s.iri, set()).add(p.node_shape)

    def depth_of(sid: str, seen: frozenset) -> int:
        if sid in seen or len(seen) >= _MAX_NESTING_DEPTH:
            return 0
        return max(
            (1 + depth_of(c, seen | {sid}) for c in children.get(sid, ())),
            default=0,
        )

    return min(
        _MAX_NESTING_DEPTH,
        max((depth_of(s.iri, frozenset()) for s in shapes.shapes), default=0),
    )


def _nested_closure(
    probe_focus: DataFrame, shapes: ShapesGraph, triples: DataFrame,
    spark: SparkSession,
) -> DataFrame | None:
    """Probe rows plus every (doc, node, child-shape) reachable from them
    via property ``sh:node`` references, each row carrying its ROOT probe
    (r_node, r_shape).

    Conformance probes (pass 6) call validate() with an explicit focus,
    which bypasses compute_focus's nested-sh:node focus derivation — so
    a sub-shape referenced via sh:qualifiedValueShape / sh:not /
    sh:and/or/xone that itself nests ``sh:node`` would have that nested
    constraint silently ignored (ADVICE r4 #3). This closure restores the
    spec answer: the probed node conforms iff the WHOLE probe tree —
    probed shape plus transitively nested child shapes over its value
    nodes — yields no violation; child findings map back to the root via
    (r_node, r_shape). Returns None when no probed sub-shape nests
    sh:node (the common case — callers keep the closure-free plan).

    Scale shape: each nesting level is one join of the (tiny) frontier
    against triples keyed (doc_id, node) — the same key prefix as ftrip,
    so the existing exchange is reused; depth is static in the shapes
    graph, never data-driven."""
    nest_rows = [
        (s.iri, p.path, p.node_shape)
        for s in shapes.shapes
        for p in s.properties
        if p.node_shape and p.node_shape in shapes.by_id
    ]
    if not nest_rows:
        return None
    base = probe_focus.select(
        "doc_id", "focus_node", "shape",
        F.col("focus_node").alias("r_node"),
        F.col("shape").alias("r_shape"),
    )
    nspec = spark.createDataFrame(
        nest_rows, "parent_shape string, path string, child_shape string"
    )
    frames = [base]
    frontier = base
    for _ in range(_static_nesting_depth(shapes)):
        child = (
            frontier.alias("f")
            .join(
                triples.alias("t"),
                (F.col("f.doc_id") == F.col("t.doc_id"))
                & (F.col("f.focus_node") == F.col("t.subj")),
            )
            .join(
                F.broadcast(nspec),
                (F.col("f.shape") == F.col("parent_shape"))
                & (F.col("t.pred") == F.col("path")),
            )
            .filter(F.col("t.obj_kind") != "literal")
            .select(
                F.col("t.doc_id").alias("doc_id"),
                F.col("t.obj_value").alias("focus_node"),
                F.col("child_shape").alias("shape"),
                F.col("f.r_node").alias("r_node"),
                F.col("f.r_shape").alias("r_shape"),
            )
            .distinct()
        )
        frames.append(child)
        frontier = child
    return _union_all(frames).distinct()


def skolem_shape_id(shape_iri: str, ps) -> str:
    """Deterministic id for a (possibly blank-node) property shape — Jena
    reports name the PROPERTY shape as sh:sourceShape and skolemize blank
    report nodes (`ModelUtils.replaceAnonNodes`, FilteringService.java:78);
    we mint stable IRIs instead of run-random labels (C4)."""
    import hashlib

    if not ps.shape_id.startswith("_:"):
        return ps.shape_id
    key = f"{shape_iri}\x1f{ps.path}\x1f{ps.shape_id}".encode()
    return "urn:skolem:shape:" + hashlib.sha256(key).hexdigest()


def _path_value_frames(
    focus: DataFrame, triples: DataFrame, shapes: ShapesGraph,
    spark: SparkSession,
) -> DataFrame | None:
    """Synthetic ftrip rows for property-path EXPRESSIONS: one row per
    (doc, focus, shape, path-id, value node), where ``pred`` carries the
    path's display id (model.py PropertyShape.path) so every downstream
    pass — the single-scan value constraints, the cardinality groupBy,
    sh:class, uniqueLang, property pairs, qualified probes — consumes
    path values exactly like plain predicate values. Closed shapes are
    untouched: the SHACL spec whitelists only direct IRI paths, and the
    synthetic ids never match a document predicate.

    One evaluator for every path kind, built from three primitives:

    * the zero step — the focus node itself, its kind derived from the
      subject (focus nodes are never literals: compute_focus filters
      literal targets). It seeds every path and is a value of its own
      for ``p?`` and ``p*``.
    * ``hop(frontier, preds, inverse)`` — one join of the frontier
      against triples keyed (doc_id, node), the same key prefix as
      ftrip. Forward matches ``subj`` and lands on the object's value,
      kind, datatype and language; inverse matches a non-literal
      ``obj_value`` and lands on ``subj`` (kind derived, no datatype or
      language). The frontier never steps FROM a literal. Inverse hops
      are the only joins in the engine keyed on the object side; they
      cannot reuse the (doc_id, subj) exchange by definition.
    * the closure of ``p`` — per-predicate directed transitive closure
      over the slice pred == p by path doubling (runtime.path_closure,
      also behind SPARQL p+/p*), one per predicate shared across shapes.
      It enters as the edge set of a forward hop.

    inverse, sequence (each step forward or inverse) and ``p?`` are
    chains of hops; an alternative is at most one forward and one
    inverse hop, each over its member set; ``p+`` and ``p*`` hop over
    the closure (a focus on a p-cycle reaches itself, which ``p+``
    counts per spec); ``p?`` and ``p*`` add the zero step.

    Rows are DISTINCT per path id (and between sequence hops, so a
    diamond's fan-out does not multiply): SHACL counts value NODES, and
    a value reachable by two routes counts once. Returns None when the
    profile declares no path expressions (the reference profiles — plan
    unchanged)."""
    paths: dict[str, tuple] = {}
    for s in shapes.shapes:
        for p in s.properties:
            if p.path_kind == "iri":
                continue
            dirs = p.path_dirs or (p.path_kind == "inverse",) * len(p.path_preds)
            paths.setdefault(
                p.path, (p.path_kind, tuple(zip(p.path_preds, dirs)), set())
            )[2].add(s.iri)
    if not paths:
        return None

    null = F.lit(None).cast("string")

    def subj_kind(col):
        return F.when(col.startswith("_:"), F.lit("bnode")).otherwise(
            F.lit("iri")
        )

    def hop(frontier, preds, inverse, edges=triples):
        edges = edges.filter(F.col("pred").isin(list(preds)))
        if inverse:
            edges = edges.filter(F.col("obj_kind") != "literal")
            at = "obj_value"
            land = (F.col("t.subj"), subj_kind(F.col("t.subj")), null, null)
        else:
            at = "subj"
            land = [F.col("t." + c) for c in _PATH_VALUE_COLS]
        return (
            frontier.filter(F.col("obj_kind") != "literal").alias("c")
            .join(
                edges.alias("t"),
                (F.col("c.doc_id") == F.col("t.doc_id"))
                & (F.col("c.obj_value") == F.col("t." + at)),
            )
            .select(
                F.col("t.doc_id").alias("doc_id"),
                "c.focus_node", "c.shape", "c.pred",
                *[c.alias(n) for c, n in zip(land, _PATH_VALUE_COLS)],
            )
        )

    closures: dict[str, DataFrame] = {}

    def closure(pred: str) -> DataFrame:
        if pred not in closures:
            base = triples.filter(F.col("pred") == pred).select(
                "doc_id",
                F.col("subj").alias("src"),
                F.col("obj_value").alias("dst"),
                F.col("obj_kind").alias("dst_kind"),
                F.col("obj_datatype").alias("dst_dt"),
                F.col("obj_lang").alias("dst_lang"),
            ).distinct()
            reach = runtime.path_closure(base, scoped=True)
            if reach is None:
                raise RuntimeError(
                    f"transitive closure of <{pred}> did not converge in "
                    f"{runtime.CLOSURE_MAX_ROUNDS} doubling rounds "
                    f"(within-doc path length > "
                    f"{2 ** runtime.CLOSURE_MAX_ROUNDS}) — refusing to "
                    "under-validate"
                )
            closures[pred] = reach.select(
                "doc_id", F.col("src").alias("subj"), F.lit(pred).alias("pred"),
                *[F.col(c).alias(n) for c, n in zip(
                    ("dst", "dst_kind", "dst_dt", "dst_lang"), _PATH_VALUE_COLS
                )],
            )
        return closures[pred]

    frames: list[DataFrame] = []
    for path_id, (kind, steps, owners) in sorted(paths.items()):
        zero = focus.filter(F.col("shape").isin(sorted(owners))).select(
            "doc_id", "focus_node", "shape", F.lit(path_id).alias("pred"),
            F.col("focus_node").alias("obj_value"),
            subj_kind(F.col("focus_node")).alias("obj_kind"),
            null.alias("obj_datatype"), null.alias("obj_lang"),
        )
        if kind in ("zero_or_more", "one_or_more"):
            pred = steps[0][0]
            vals = hop(zero, [pred], False, closure(pred))
        elif kind == "alternative":
            members: dict[bool, list[str]] = {}
            for pred, inv in steps:
                members.setdefault(inv, []).append(pred)
            vals = _union_all(
                [hop(zero, preds, inv) for inv, preds in members.items()]
            )
        else:
            vals = zero
            for k, (pred, inv) in enumerate(steps):
                vals = hop(vals.distinct() if k else vals, [pred], inv)
        if kind in ("zero_or_one", "zero_or_more"):
            vals = vals.unionByName(zero)
        frames.append(vals.distinct())
    return _union_all(frames)


def _vstruct(component: str, message, path, value=None, value_kind=None,
             source_shape=None):
    """Violation payload struct (shared shape across all constraints so
    they can live in one array and explode in a single scan)."""

    def c(x):
        if x is None:
            return F.lit(None).cast("string")
        return (F.lit(x) if isinstance(x, str) else x).cast("string")

    return F.struct(
        c(path).alias("result_path"),
        c(value).alias("value"),
        c(value_kind).alias("value_kind"),
        F.lit(component).alias("constraint_component"),
        c(message).alias("message"),
        c(source_shape).alias("source_shape"),
    )


def _scan_violation_structs(shapes: ShapesGraph) -> list:
    """Per-row value + closed-shape checks as conditional structs: the
    whole set evaluates in ONE projection over the focus-joined triples
    (no unions, no re-scans — the "batched constraint evaluator" compiled
    into Catalyst expressions)."""
    obj, kind = F.col("obj_value"), F.col("obj_kind")
    structs = []
    for shape in shapes.shapes:
        sh_app = F.col("shape") == shape.iri
        for ps in shape.properties:
            app = sh_app & (F.col("pred") == ps.path)
            src = skolem_shape_id(shape.iri, ps)

            def emit(bad, component, message, app=app, ps=ps, src=src):
                structs.append(F.when(app & bad, _vstruct(
                    component, message, ps.path, obj, kind, src
                )))

            if ps.datatypes:
                dt_col = F.coalesce(F.col("obj_datatype"), F.lit(XSD + "string"))
                dt_ok = dt_col.isin(list(ps.datatypes)) & F.col("obj_lang").isNull()
                lex_ok = F.lit(True)
                for dt in ps.datatypes:
                    rx = _LEXICAL_RE.get(dt)
                    if rx:
                        lex_ok = lex_ok & F.when(
                            dt_col == dt, obj.rlike(rx)
                        ).otherwise(F.lit(True))
                emit(
                    ~((kind == "literal") & dt_ok & lex_ok),
                    SH + "DatatypeConstraintComponent",
                    ps.message
                    or f"value does not have datatype <{'|'.join(ps.datatypes)}>",
                )
            if ps.pattern is not None:
                emit(
                    (kind == "bnode") | ~obj.rlike(ps.pattern),
                    SH + "PatternConstraintComponent",
                    ps.message or f"value does not match pattern '{ps.pattern}'",
                )
            if ps.node_kind is not None:
                allowed = _NODEKIND_ALLOWED.get(
                    ps.node_kind, ("iri", "bnode", "literal")
                )
                emit(
                    ~kind.isin(list(allowed)),
                    SH + "NodeKindConstraintComponent",
                    ps.message or f"value is not of node kind <{ps.node_kind}>",
                )
            if ps.min_length is not None:
                emit(
                    (kind == "bnode") | (F.length(obj) < ps.min_length),
                    SH + "MinLengthConstraintComponent",
                    ps.message or f"value shorter than {ps.min_length}",
                )
            if ps.max_length is not None:
                emit(
                    (kind == "bnode") | (F.length(obj) > ps.max_length),
                    SH + "MaxLengthConstraintComponent",
                    ps.message or f"value longer than {ps.max_length}",
                )
            if ps.in_values:
                emit(
                    ~obj.isin(list(ps.in_values)),
                    SH + "InConstraintComponent",
                    ps.message or "value not in allowed list",
                )
            # value ranges: numeric iff _NUM_RE matches; else violation
            num = F.when(obj.rlike(_NUM_RE), obj.cast(_DEC))
            for bound_lex, op, comp in (
                (ps.min_inclusive, lambda n, b: n >= b, "MinInclusive"),
                (ps.max_inclusive, lambda n, b: n <= b, "MaxInclusive"),
                (ps.min_exclusive, lambda n, b: n > b, "MinExclusive"),
                (ps.max_exclusive, lambda n, b: n < b, "MaxExclusive"),
            ):
                if bound_lex is not None:
                    bound = F.lit(bound_lex).cast(_DEC)
                    ok = (kind == "literal") & F.coalesce(
                        op(num, bound), F.lit(False)
                    )
                    emit(
                        ~ok,
                        SH + comp + "ConstraintComponent",
                        ps.message or f"value out of range ({comp} {bound_lex})",
                    )
            if ps.language_in:
                lang_ok = (kind == "literal") & F.coalesce(
                    F.col("obj_lang").isin(list(ps.language_in)),
                    F.lit(False),
                )
                emit(
                    ~lang_ok,
                    SH + "LanguageInConstraintComponent",
                    ps.message
                    or f"language not in ({', '.join(ps.language_in)})",
                )
        if shape.closed:
            allowed = (
                {p.path for p in shape.properties} | set(shape.ignored_properties)
            )
            structs.append(F.when(
                sh_app & ~F.col("pred").isin(list(allowed)),
                _vstruct(
                    SH + "ClosedConstraintComponent",
                    "predicate not allowed by closed shape",
                    F.col("pred"), obj, kind,
                    shape.iri,  # node-level constraint: the node shape itself
                ),
            ))
    return structs


def _project(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", "shape", "focus_node", "result_path", "value", "value_kind",
        "constraint_component",
        F.lit(SEVERITY_VIOLATION).alias("severity"),
        "message", "source_shape",
    )


def validate(
    triples: DataFrame,
    shapes: ShapesGraph,
    spark: SparkSession | None = None,
    focus: DataFrame | None = None,
    cache_intermediate: bool = True,
    persisted: list | None = None,
    _sub_depth: int = 0,
) -> DataFrame:
    """All violations for all shapes in four passes total, independent of
    how many shapes/constraints the profile declares:

    1. one focus⋈triples join (ftrip) — the only exchange keyed
       (doc_id, node), shared below;
    2. one projection of ftrip evaluating EVERY value/closed constraint
       as conditional structs exploded from an array (zero extra scans);
    3. one groupBy(doc_id, focus, shape, pred) feeding min/max-count and
       hasValue via broadcast spec-table joins (+ one lang-keyed groupBy
       when any shape declares sh:uniqueLang);
    4. one join against the typed-node slice for all sh:class constraints;
    5. self-joins of ftrip slices for property-pair constraints
       (sh:equals/disjoint/lessThan[OrEquals]) — keyed on the same
       (doc_id, focus) prefix, so with subset co-partitioning enabled
       (session.py) they reuse ftrip's exchange rather than adding one.

    At 10^12-doc scale this bounds the shuffle count at 2 (join + groupBy)
    regardless of profile size; profiles using uniqueLang/pair components
    add only same-key aggregations/joins on the cached ftrip.
    """
    spark = spark or SparkSession.getActiveSession()
    if focus is None:
        focus = compute_focus(triples, shapes, spark)

    ftrip = (
        focus.alias("f")
        .join(
            triples.alias("t"),
            (F.col("f.doc_id") == F.col("t.doc_id"))
            & (F.col("f.focus_node") == F.col("t.subj")),
        )
        .select(
            F.col("t.doc_id").alias("doc_id"),
            "f.focus_node", "f.shape",
            "t.pred", "t.obj_value", "t.obj_kind", "t.obj_datatype", "t.obj_lang",
        )
    )
    # property-path expressions: synthetic value-node rows keyed by the
    # path's display id ride the SAME cached ftrip every pass consumes
    # (None for the reference profiles — plan byte-identical)
    path_frames = _path_value_frames(focus, triples, shapes, spark)
    if path_frames is not None:
        ftrip = ftrip.unionByName(path_frames)
    if cache_intermediate:
        # the scan/cardinality/class passes each consume ftrip; without a
        # persist, AQE re-derives it per pass — including a sequential
        # driver-blocking broadcast build per join — which serializes the
        # whole validation (observed: 11 back-to-back broadcast jobs).
        # Callers that loop (streaming foreachBatch, bench suites) pass a
        # `persisted` list and unpersist once outputs are materialized, so
        # executor storage doesn't accumulate over the session lifetime.
        ftrip = ftrip.persist()
        if persisted is not None:
            persisted.append(ftrip)

    frames: list[DataFrame] = []

    # pass 2: value + closed constraints, single scan
    structs = _scan_violation_structs(shapes)
    if structs:
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        frames.append(_project(
            ftrip.select(
                "doc_id", "shape", "focus_node", F.explode(arr).alias("v")
            ).select("doc_id", "shape", "focus_node", "v.*")
        ))

    # pass 3: cardinality + hasValue via one groupBy + broadcast specs
    max_rows = [
        (s.iri, p.path, p.max_count,
         p.message or f"more than {p.max_count} values",
         skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties if p.max_count is not None
    ]
    min_rows = [
        (s.iri, p.path, p.min_count,
         p.message or f"fewer than {p.min_count} values",
         skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties if p.min_count is not None
    ]
    hv_rows = [
        (s.iri, p.path, p.has_value,
         p.message or f"missing required value {p.has_value}",
         skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties if p.has_value is not None
    ]
    counts = None
    if max_rows or min_rows or hv_rows:
        counts = ftrip.groupBy("doc_id", "focus_node", "shape", "pred").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    if max_rows:
        spec = F.broadcast(spark.createDataFrame(
            max_rows, "m_shape string, m_pred string, m_max int, m_msg string, m_src string"
        ))
        over = counts.join(
            spec,
            (F.col("shape") == F.col("m_shape"))
            & (F.col("pred") == F.col("m_pred"))
            & (F.col("cnt") > F.col("m_max")),
        )
        frames.append(_project(over.select(
            "doc_id", "shape", "focus_node",
            F.col("pred").alias("result_path"),
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("string").alias("value_kind"),
            F.lit(SH + "MaxCountConstraintComponent").alias("constraint_component"),
            F.col("m_msg").alias("message"),
            F.col("m_src").alias("source_shape"),
        )))
    if min_rows:
        spec = F.broadcast(spark.createDataFrame(
            min_rows, "m_shape string, m_pred string, m_min int, m_msg string, m_src string"
        ))
        # rename the counts side fully: counts derives from focus, so a
        # bare join would be an ambiguous self-join
        have = counts.select(
            F.col("doc_id").alias("h_doc"),
            F.col("focus_node").alias("h_focus"),
            F.col("shape").alias("h_shape"),
            F.col("pred").alias("h_pred"),
            F.col("cnt").alias("have_cnt"),
        )
        under = (
            focus.join(spec, F.col("shape") == F.col("m_shape"))
            .join(
                have,
                (F.col("doc_id") == F.col("h_doc"))
                & (F.col("focus_node") == F.col("h_focus"))
                & (F.col("shape") == F.col("h_shape"))
                & (F.col("m_pred") == F.col("h_pred")),
                "left",
            )
            .filter(F.coalesce(F.col("have_cnt"), F.lit(0)) < F.col("m_min"))
        )
        frames.append(_project(under.select(
            "doc_id", "shape", "focus_node",
            F.col("m_pred").alias("result_path"),
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("string").alias("value_kind"),
            F.lit(SH + "MinCountConstraintComponent").alias("constraint_component"),
            F.col("m_msg").alias("message"),
            F.col("m_src").alias("source_shape"),
        )))
    if hv_rows:
        spec = F.broadcast(spark.createDataFrame(
            hv_rows, "h_shape string, h_pred string, h_val string, h_msg string, h_src string"
        ))
        having = (
            ftrip.join(
                spec,
                (F.col("shape") == F.col("h_shape"))
                & (F.col("pred") == F.col("h_pred"))
                & (F.col("obj_value") == F.col("h_val")),
            )
            .select(
                F.col("doc_id").alias("g_doc"),
                F.col("focus_node").alias("g_focus"),
                F.col("shape").alias("g_shape"),
                F.col("h_pred").alias("g_pred"),
            )
            .distinct()
            .withColumn("present", F.lit(1))
        )
        missing = (
            focus.join(spec, F.col("shape") == F.col("h_shape"))
            .join(
                having,
                (F.col("doc_id") == F.col("g_doc"))
                & (F.col("focus_node") == F.col("g_focus"))
                & (F.col("shape") == F.col("g_shape"))
                & (F.col("h_pred") == F.col("g_pred")),
                "left",
            )
            .filter(F.col("present").isNull())
        )
        frames.append(_project(missing.select(
            "doc_id", "shape", "focus_node",
            F.col("h_pred").alias("result_path"),
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("string").alias("value_kind"),
            F.lit(SH + "HasValueConstraintComponent").alias("constraint_component"),
            F.col("h_msg").alias("message"),
            F.col("h_src").alias("source_shape"),
        )))

    # pass 3b: sh:uniqueLang — one groupBy on the (doc_id, focus, ...)
    # prefix; a language tag appearing on >1 values of the path is ONE
    # violation per duplicated tag (value = the tag)
    ul_rows = [
        (s.iri, p.path,
         p.message or "language tag used on more than one value",
         skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties if p.unique_lang
    ]
    if ul_rows:
        spec = F.broadcast(spark.createDataFrame(
            ul_rows, "u_shape string, u_path string, u_msg string, u_src string"
        ))
        dup = (
            ftrip.filter(F.col("obj_lang").isNotNull())
            .join(
                spec,
                (F.col("shape") == F.col("u_shape"))
                & (F.col("pred") == F.col("u_path")),
            )
            .groupBy(
                "doc_id", "focus_node", "shape", "pred", "obj_lang",
                "u_msg", "u_src",
            )
            .agg(F.count(F.lit(1)).alias("n_lang"))
            .filter(F.col("n_lang") > 1)
        )
        frames.append(_project(dup.select(
            "doc_id", "shape", "focus_node",
            F.col("pred").alias("result_path"),
            F.col("obj_lang").alias("value"),
            F.lit(None).cast("string").alias("value_kind"),
            F.lit(SH + "UniqueLangConstraintComponent").alias("constraint_component"),
            F.col("u_msg").alias("message"),
            F.col("u_src").alias("source_shape"),
        )))

    # pass 5: property-pair constraints — both operand slices come from
    # the SAME cached ftrip, and every join keys on the (doc_id, focus)
    # prefix of its partitioning
    pair_rows = [
        (s.iri, p.path, other, comp,
         p.message or f"sh:{comp[0].lower()}{comp[1:]} <{other}> violated",
         skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties
        for comp, other in (
            ("Equals", p.equals),
            ("Disjoint", p.disjoint),
            ("LessThan", p.less_than),
            ("LessThanOrEquals", p.less_than_or_equals),
        )
        if other is not None
    ]
    if pair_rows:
        spec = F.broadcast(spark.createDataFrame(
            pair_rows,
            "p_shape string, p_path string, p_other string, p_comp string, "
            "p_msg string, p_src string",
        ))
        # lhs = values of the constrained path; rhs = values of the OTHER
        # predicate, projected onto the SAME schema (val/val_kind) so the
        # two directions of sh:equals are symmetric column-name joins
        common = ["doc_id", "focus_node", "shape", "p_path", "p_comp",
                  "p_msg", "p_src"]

        def _slice(pred_col):
            return ftrip.join(
                spec,
                (F.col("shape") == F.col("p_shape"))
                & (F.col("pred") == F.col(pred_col)),
            ).select(
                *common,
                F.col("obj_value").alias("val"),
                F.col("obj_kind").alias("val_kind"),
            )

        lhs = _slice("p_path")
        rhs = _slice("p_other")
        pair_key = common[:5] + ["val"]

        def _pair_project(df):
            return _project(df.select(
                "doc_id", "shape", "focus_node",
                F.col("p_path").alias("result_path"),
                F.col("val").cast("string").alias("value"),
                F.col("val_kind").cast("string").alias("value_kind"),
                F.concat(
                    F.lit(SH), F.col("p_comp"), F.lit("ConstraintComponent")
                ).alias("constraint_component"),
                F.col("p_msg").alias("message"),
                F.col("p_src").alias("source_shape"),
            ).distinct())

        if any(r[3] == "Equals" for r in pair_rows):
            eq_l = lhs.filter(F.col("p_comp") == "Equals")
            eq_r = rhs.filter(F.col("p_comp") == "Equals")
            # path values missing from the other's set, and vice versa
            frames.append(_pair_project(
                eq_l.join(eq_r, pair_key, "left_anti")
            ))
            frames.append(_pair_project(
                eq_r.join(eq_l, pair_key, "left_anti")
            ))

        if any(r[3] == "Disjoint" for r in pair_rows):
            dj_l = lhs.filter(F.col("p_comp") == "Disjoint")
            dj_r = rhs.filter(F.col("p_comp") == "Disjoint")
            frames.append(_pair_project(
                dj_l.join(dj_r, pair_key, "left_semi")
            ))

        if any(r[3] in ("LessThan", "LessThanOrEquals") for r in pair_rows):
            comps = ("LessThan", "LessThanOrEquals")
            lt_l = lhs.filter(F.col("p_comp").isin(*comps))
            lt_r = rhs.filter(F.col("p_comp").isin(*comps)).select(
                *common[:5], F.col("val").alias("r_val")
            )
            pairs = lt_l.join(lt_r, common[:5])
            l_num = F.when(F.col("val").rlike(_NUM_RE), F.col("val").cast(_DEC))
            r_num = F.when(F.col("r_val").rlike(_NUM_RE), F.col("r_val").cast(_DEC))
            strict = F.col("p_comp") == "LessThan"
            num_ok = F.when(strict, l_num < r_num).otherwise(l_num <= r_num)
            str_ok = F.when(
                strict, F.col("val") < F.col("r_val")
            ).otherwise(F.col("val") <= F.col("r_val"))
            ok = F.when(
                l_num.isNotNull() & r_num.isNotNull(), num_ok
            ).otherwise(str_ok)
            frames.append(_pair_project(
                pairs.filter(~F.coalesce(ok, F.lit(False)))
            ))

    # pass 4: all sh:class constraints via one join against typed nodes
    class_rows = [
        (s.iri, p.path, p.class_,
         p.message or f"value is not an instance of <{p.class_}>",
         skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties if p.class_ is not None
    ]
    if class_rows:
        spec = F.broadcast(spark.createDataFrame(
            class_rows, "c_shape string, c_pred string, c_class string, c_msg string, c_src string"
        ))
        typed = (
            triples.filter(F.col("pred") == RDF_TYPE)
            .select(
                F.col("doc_id").alias("t_doc"),
                F.col("subj").alias("t_node"),
                F.col("obj_value").alias("t_cls"),
            )
            .distinct()
        )
        vals = ftrip.join(
            spec,
            (F.col("shape") == F.col("c_shape")) & (F.col("pred") == F.col("c_pred")),
        )
        bad = vals.join(
            typed,
            (vals.doc_id == typed.t_doc)
            & (vals.obj_value == typed.t_node)
            & (vals.c_class == typed.t_cls),
            "left",
        ).filter(F.col("t_node").isNull())
        frames.append(_project(bad.select(
            "doc_id", "shape", "focus_node",
            F.col("c_pred").alias("result_path"),
            F.col("obj_value").alias("value"),
            F.col("obj_kind").alias("value_kind"),
            F.lit(SH + "ClassConstraintComponent").alias("constraint_component"),
            F.col("c_msg").alias("message"),
            F.col("c_src").alias("source_shape"),
        )))

    # pass 6: shape-valued components — sh:qualifiedValueShape (+
    # qualifiedMin/MaxCount) and node-level sh:not. Both reduce to "does
    # node X conform to sub-shape S?", answered by ONE recursive
    # validate() over the union of all (doc, node, sub-shape) probes
    # (explicit focus, so no target re-derivation): a probe conforms iff
    # it yields no violation row. Sub-shapes using further shape-valued
    # components recurse again, capped at _MAX_NESTING_DEPTH, beyond
    # which the inner components are skipped (model.py contract). The
    # probe set is a slice of ftrip, so the extra passes stay keyed on
    # the same (doc_id, node) prefix as everything else.
    q_rows = [
        (s.iri, p.path, p.qualified_shape, p.qualified_min, p.qualified_max,
         p.message, skolem_shape_id(s.iri, p))
        for s in shapes.shapes for p in s.properties
        if p.qualified_shape and p.qualified_shape in shapes.by_id
        and (p.qualified_min is not None or p.qualified_max is not None)
    ]
    # sh:qualifiedValueShapesDisjoint (r5, spec §4.5.3): for a disjoint
    # property shape, a value conforming to any SIBLING qualified shape
    # (the qualified shapes of the parent node shape's other property
    # shapes) is excluded from the conforming count. Keyed on the skolem
    # property-shape id (q_src) so two siblings sharing a path stay
    # distinct.
    sib_rows = sorted({
        (skolem_shape_id(s.iri, p), sib)
        for s in shapes.shapes for p in s.properties
        if p.qualified_shape and p.qualified_disjoint
        and p.qualified_shape in shapes.by_id
        and (p.qualified_min is not None or p.qualified_max is not None)
        for sib in {
            # SHACL §4.5.3: the sibling set is the OTHER qualified
            # shape VALUES minus this constraint's own — excluding by
            # property identity would wrongly count a sibling property
            # carrying the SAME shape as a disjointness competitor
            p2.qualified_shape for p2 in s.properties
            if p2.qualified_shape
            and p2.qualified_shape != p.qualified_shape
        }
        if sib in shapes.by_id
    })
    not_rows = [
        (s.iri, n) for s in shapes.shapes for n in s.not_shapes
        if n in shapes.by_id
    ]
    # logical lists: one row per member, with the member count carried so
    # the conforming-count test is a plain per-row comparison
    logic_rows = [
        (s.iri, comp, m, len(members))
        for s in shapes.shapes
        for comp, members in (
            ("And", s.and_shapes), ("Or", s.or_shapes),
            ("Xone", s.xone_shapes),
        )
        if members and all(m in shapes.by_id for m in members)
        for m in members
    ]
    if (
        q_rows or not_rows or logic_rows
    ) and _sub_depth < _MAX_NESTING_DEPTH:
        probes = []
        q_cand = None
        if q_rows:
            qspec = F.broadcast(spark.createDataFrame(
                q_rows,
                "q_shape string, q_path string, q_sub string, q_min int, "
                "q_max int, q_msg string, q_src string",
            ))
            # candidate value nodes, SET semantics (SHACL counts value
            # nodes, not occurrences)
            q_cand = ftrip.join(
                qspec,
                (F.col("shape") == F.col("q_shape"))
                & (F.col("pred") == F.col("q_path")),
            ).select(
                "doc_id", "focus_node", "shape", "q_path", "q_sub",
                "q_min", "q_max", "q_msg", "q_src",
                F.col("obj_value").alias("val"),
            ).distinct()
            probes.append(q_cand.select(
                "doc_id", F.col("val").alias("focus_node"),
                F.col("q_sub").alias("shape"),
            ))
        q_sib = None
        if q_rows and sib_rows:
            sibspec = F.broadcast(spark.createDataFrame(
                sib_rows, "b_src string, b_sub string"
            ))
            # each disjoint candidate value is ALSO probed against every
            # sibling shape — same recursive validate answers both
            q_sib = q_cand.join(
                sibspec, F.col("q_src") == F.col("b_src")
            ).select("doc_id", "focus_node", "q_src", "val", "b_sub")
            probes.append(q_sib.select(
                "doc_id", F.col("val").alias("focus_node"),
                F.col("b_sub").alias("shape"),
            ))
        n_base = None
        if not_rows:
            nspec = F.broadcast(spark.createDataFrame(
                not_rows, "n_shape string, n_sub string"
            ))
            n_base = focus.join(
                nspec, F.col("shape") == F.col("n_shape")
            ).select("doc_id", "focus_node", "shape", "n_sub")
            probes.append(n_base.select(
                "doc_id", "focus_node", F.col("n_sub").alias("shape")
            ))
        l_base = None
        if logic_rows:
            lspec = F.broadcast(spark.createDataFrame(
                logic_rows,
                "l_shape string, l_comp string, l_member string, l_n int",
            ))
            l_base = focus.join(
                lspec, F.col("shape") == F.col("l_shape")
            ).select(
                "doc_id", "focus_node", "shape", "l_comp", "l_member", "l_n"
            )
            probes.append(l_base.select(
                "doc_id", "focus_node", F.col("l_member").alias("shape")
            ))
        probe_focus = _union_all(probes).distinct()
        # restrict the recursive graph to the referenced sub-shapes (and
        # their transitive children): the recursion then terminates as
        # soon as a level's sub-shapes declare no shape-valued components
        # of their own — without the restriction every level would rebuild
        # the FULL constraint machinery and the plan tree grows
        # exponentially with _MAX_NESTING_DEPTH
        sub_ids = (
            {r[2] for r in q_rows}
            | {n for _, n in not_rows}
            | {r[2] for r in logic_rows}
            | {sib for _, sib in sib_rows}
        )
        sub_graph = _restrict_graph(shapes, sub_ids)
        # nested sh:node inside probed sub-shapes: expand the probe set
        # with the value-node closure and bubble child findings back to
        # the root probe (None when no probed shape nests sh:node)
        closure = _nested_closure(probe_focus, sub_graph, triples, spark)
        inner_focus = (
            probe_focus if closure is None
            else closure.select("doc_id", "focus_node", "shape").distinct()
        )
        raw_viol = validate(
            triples, sub_graph, spark,
            focus=inner_focus,
            cache_intermediate=cache_intermediate, persisted=persisted,
            _sub_depth=_sub_depth + 1,
        ).select(
            F.col("doc_id").alias("v_doc"),
            F.col("focus_node").alias("v_node"),
            F.col("shape").alias("v_shape"),
        ).distinct()
        if closure is None:
            sub_viol = raw_viol.select(
                F.col("v_doc").alias("s_doc"),
                F.col("v_node").alias("s_node"),
                F.col("v_shape").alias("s_shape"),
            )
        else:
            sub_viol = closure.join(
                raw_viol,
                (F.col("doc_id") == F.col("v_doc"))
                & (F.col("focus_node") == F.col("v_node"))
                & (F.col("shape") == F.col("v_shape")),
            ).select(
                F.col("doc_id").alias("s_doc"),
                F.col("r_node").alias("s_node"),
                F.col("r_shape").alias("s_shape"),
            ).distinct()
        if q_rows:
            marked = q_cand.join(
                sub_viol,
                (F.col("doc_id") == F.col("s_doc"))
                & (F.col("val") == F.col("s_node"))
                & (F.col("q_sub") == F.col("s_shape")),
                "left",
            )
            conforming = F.col("s_node").isNull()
            if q_sib is not None:
                # values conforming to >=1 sibling shape (left_anti
                # against sub_viol keeps the probes WITHOUT a violation
                # row) are excluded from the disjoint count
                excl = q_sib.join(
                    sub_viol,
                    (F.col("doc_id") == F.col("s_doc"))
                    & (F.col("val") == F.col("s_node"))
                    & (F.col("b_sub") == F.col("s_shape")),
                    "left_anti",
                ).select(
                    F.col("doc_id").alias("e_doc"),
                    F.col("q_src").alias("e_src"),
                    F.col("focus_node").alias("e_focus"),
                    F.col("val").alias("e_val"),
                ).distinct()
                marked = marked.join(
                    excl,
                    (F.col("doc_id") == F.col("e_doc"))
                    & (F.col("q_src") == F.col("e_src"))
                    & (F.col("focus_node") == F.col("e_focus"))
                    & (F.col("val") == F.col("e_val")),
                    "left",
                )
                conforming = conforming & F.col("e_val").isNull()
            conf_cnt = marked.groupBy(
                "doc_id", "focus_node", "shape", "q_path", "q_sub",
                "q_min", "q_max", "q_msg", "q_src",
            ).agg(F.sum(
                F.when(conforming, 1).otherwise(0)
            ).alias("n_conf"))
            over_q = conf_cnt.filter(
                F.col("q_max").isNotNull()
                & (F.col("n_conf") > F.col("q_max"))
            )
            frames.append(_project(over_q.select(
                "doc_id", "shape", "focus_node",
                F.col("q_path").alias("result_path"),
                F.lit(None).cast("string").alias("value"),
                F.lit(None).cast("string").alias("value_kind"),
                F.lit(SH + "QualifiedMaxCountConstraintComponent")
                .alias("constraint_component"),
                F.coalesce(
                    F.col("q_msg"),
                    F.concat(F.lit("more than "), F.col("q_max").cast("string"),
                             F.lit(" values conform to the qualified shape")),
                ).alias("message"),
                F.col("q_src").alias("source_shape"),
            )))
            # min side starts from the focus table so focus nodes with
            # ZERO path values (or zero conforming values) violate too
            qmin_spec = F.broadcast(spark.createDataFrame(
                [r for r in q_rows if r[3] is not None],
                "q_shape string, q_path string, q_sub string, q_min int, "
                "q_max int, q_msg string, q_src string",
            )) if any(r[3] is not None for r in q_rows) else None
            if qmin_spec is not None:
                have = conf_cnt.select(
                    F.col("doc_id").alias("h_doc"),
                    F.col("focus_node").alias("h_focus"),
                    F.col("shape").alias("h_shape"),
                    F.col("q_path").alias("h_path"),
                    F.col("q_sub").alias("h_sub"),
                    F.col("n_conf").alias("h_conf"),
                )
                under_q = (
                    focus.join(qmin_spec, F.col("shape") == F.col("q_shape"))
                    .join(
                        have,
                        (F.col("doc_id") == F.col("h_doc"))
                        & (F.col("focus_node") == F.col("h_focus"))
                        & (F.col("shape") == F.col("h_shape"))
                        & (F.col("q_path") == F.col("h_path"))
                        & (F.col("q_sub") == F.col("h_sub")),
                        "left",
                    )
                    .filter(
                        F.coalesce(F.col("h_conf"), F.lit(0)) < F.col("q_min")
                    )
                )
                frames.append(_project(under_q.select(
                    "doc_id", "shape", "focus_node",
                    F.col("q_path").alias("result_path"),
                    F.lit(None).cast("string").alias("value"),
                    F.lit(None).cast("string").alias("value_kind"),
                    F.lit(SH + "QualifiedMinCountConstraintComponent")
                    .alias("constraint_component"),
                    F.coalesce(
                        F.col("q_msg"),
                        F.concat(F.lit("fewer than "), F.col("q_min").cast("string"),
                                 F.lit(" values conform to the qualified "
                                       "shape")),
                    ).alias("message"),
                    F.col("q_src").alias("source_shape"),
                )))
        if not_rows:
            conforms_to_not = n_base.join(
                sub_viol,
                (F.col("doc_id") == F.col("s_doc"))
                & (F.col("focus_node") == F.col("s_node"))
                & (F.col("n_sub") == F.col("s_shape")),
                "left_anti",
            )
            frames.append(_project(conforms_to_not.select(
                "doc_id", "shape", "focus_node",
                F.lit(None).cast("string").alias("result_path"),
                F.lit(None).cast("string").alias("value"),
                F.lit(None).cast("string").alias("value_kind"),
                F.lit(SH + "NotConstraintComponent")
                .alias("constraint_component"),
                F.concat(
                    F.lit("focus node conforms to negated shape <"),
                    F.col("n_sub"), F.lit(">"),
                ).alias("message"),
                F.col("shape").alias("source_shape"),
            )))
        if logic_rows:
            l_marked = l_base.join(
                sub_viol,
                (F.col("doc_id") == F.col("s_doc"))
                & (F.col("focus_node") == F.col("s_node"))
                & (F.col("l_member") == F.col("s_shape")),
                "left",
            )
            l_cnt = l_marked.groupBy(
                "doc_id", "focus_node", "shape", "l_comp", "l_n"
            ).agg(F.sum(
                F.when(F.col("s_node").isNull(), 1).otherwise(0)
            ).alias("n_conf"))
            bad_logic = l_cnt.filter(
                ((F.col("l_comp") == "And") & (F.col("n_conf") < F.col("l_n")))
                | ((F.col("l_comp") == "Or") & (F.col("n_conf") == 0))
                | ((F.col("l_comp") == "Xone") & (F.col("n_conf") != 1))
            )
            frames.append(_project(bad_logic.select(
                "doc_id", "shape", "focus_node",
                F.lit(None).cast("string").alias("result_path"),
                F.lit(None).cast("string").alias("value"),
                F.lit(None).cast("string").alias("value_kind"),
                F.concat(
                    F.lit(SH), F.col("l_comp"), F.lit("ConstraintComponent")
                ).alias("constraint_component"),
                F.concat(
                    F.lit("focus node conforms to "),
                    F.col("n_conf").cast("string"), F.lit(" of "),
                    F.col("l_n").cast("string"),
                    F.lit(" member shapes of sh:"),
                    F.lower(F.col("l_comp")),
                ).alias("message"),
                F.col("shape").alias("source_shape"),
            )))

    # pass 7 (r5): SPARQL-based constraints (sh:sparql, spec §5.3). Each
    # constraint's SELECT — validated, prefix-inlined, and $this-rewritten
    # to ?this at profile parse (shacl/parse.py) — compiles through the
    # engine's OWN SPARQL compiler (sparql.py) with a graph VARIABLE, so
    # every triple pattern carries doc_id and the query evaluates per
    # document (the per-model Jena loop, FilteringService.java:60-85).
    # Each DISTINCT solution joined back to the shape's focus set is one
    # violation: focus = ?this, sh:value = the ?value binding, resultPath
    # = the ?path binding (spec §5.3.2). Scale: pattern scans filter on
    # predicate constants (pushdown), every BGP join key includes doc_id
    # (co-partitioned with the pipeline's single doc_id exchange), and
    # the final focus join uses the same (doc_id, node) key as every
    # other pass.
    sparql_cs = [
        (s, None, sc) for s in shapes.shapes for sc in s.sparql_constraints
    ] + [
        # property-shape constraints (spec §5.3.1): $PATH was substituted
        # at parse time; violations default result_path to the shape's
        # path when the query binds no ?path
        (s, ps, sc)
        for s in shapes.shapes for ps in s.properties
        for sc in ps.sparql_constraints
    ]
    for s, ps, sc in sparql_cs:
        from harvesting_validator_spark import sparql as _sq

        q = _sq.parse_sparql(sc.select)
        comp = _sq._Compiler(triples)
        sol_df, binds = comp.compile_pattern(
            q.pattern, graph=_sq.Var("__shacl_g")
        )
        b_g, b_this = binds["__shacl_g"], binds["this"]

        def _opt(name: str, kind: bool = False, binds=binds):
            b = binds.get(name)
            if b is None:
                return F.lit(None).cast("string")
            return (b.kind_col() if kind else F.col(b.val)).cast("string")

        # sh:message placeholders {?var} / {$var} substitute the
        # solution's binding (spec §5.3.2.3); unbound names stay literal
        import re as _re

        msg_pieces = []
        for part in _re.split(
            r"(\{[?$]\w+\})", sc.message or "SPARQL constraint violated"
        ):
            m = _re.fullmatch(r"\{[?$](\w+)\}", part)
            b = binds.get(m.group(1)) if m else None
            if b is not None:
                # per-row unbound (e.g. OPTIONAL) keeps the literal
                # placeholder too — a bare NULL piece would
                # concat-propagate and erase the WHOLE message
                msg_pieces.append(F.coalesce(
                    b.display_col().cast("string"), F.lit(part)
                ))
            elif part:
                msg_pieces.append(F.lit(part))
        msg_col = (
            msg_pieces[0] if len(msg_pieces) == 1
            else F.concat(*msg_pieces)
        )

        sol = sol_df.select(
            F.col(b_g.val).alias("q_doc"),
            F.col(b_this.val).alias("q_node"),
            _opt("value").alias("q_value"),
            _opt("value", kind=True).alias("q_value_kind"),
            _opt("path").alias("q_path"),
            msg_col.alias("q_message"),
        ).distinct()
        hits = focus.filter(F.col("shape") == s.iri).join(
            sol,
            (F.col("doc_id") == F.col("q_doc"))
            & (F.col("focus_node") == F.col("q_node")),
        )
        default_path = (
            F.lit(ps.path) if ps is not None
            else F.lit(None).cast("string")
        )
        frames.append(_project(hits.select(
            "doc_id", "shape", "focus_node",
            F.coalesce(F.col("q_path"), default_path).alias("result_path"),
            F.col("q_value").alias("value"),
            F.when(
                F.col("q_value").isNotNull(), F.col("q_value_kind")
            ).alias("value_kind"),
            F.lit(SH + "SPARQLConstraintComponent")
            .alias("constraint_component"),
            F.col("q_message").alias("message"),
            F.lit(sc.source).alias("source_shape"),
        )))

    result = _union_all(frames)
    if result is None:
        return spark.createDataFrame(
            [],
            "doc_id binary, shape string, focus_node string, "
            "result_path string, value string, value_kind string, "
            "constraint_component string, severity string, message string, "
            "source_shape string",
        )
    return result
