"""Entity linking: mention extraction -> MinHash/LSH blocking -> batched
pair scoring (north_star: "min-hash/LSH blocking + batched mention-detect
and entity-link scoring").

Stages, all DataFrame-native:

1. ``extract_mentions`` — pivot each typed subject's literal attributes
   into one row per (doc_id, entity IRI): the "mention".
2. ``block_candidates`` — ``lsh.lsh_pairs`` over one representative
   mention per entity: minhash of the attribute token set, banded;
   candidate pairs = entities sharing a band, each emitted once at its
   first shared band, so the pair stream is never deduplicated. The
   attribute bundles ride in the band rows; hot bands (stopword-heavy
   mentions) are split by AQE skew-join handling, and the band key can be
   salted via ``n_salt``. ``block_candidates_by_key`` (exact strong-key
   blocking) pairs the same representatives on entity ids and attaches
   their bundles to the deduplicated id pairs (``lsh.attach``).
3. ``score_pairs`` — pure-Catalyst token-Jaccard + strong-key agreement
   (array_intersect/array_union/arrays_overlap inside whole-stage
   codegen; no Python anywhere in the hot path).
4. ``link_edges`` — score >= threshold -> (src, dst) edge list for
   union-find canonicalization (canonicalize.py).

Scale notes: mentions are ~1 row per entity (orders of magnitude smaller
than triples), and the per-entity reduction is one mention-sized shuffle;
signatures are columnar array ops (no shuffle); the pair scorer runs on
candidates only — never on the quadratic all-pairs space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvesting_validator_spark.lsh import attach, lsh_pairs, minhash

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def extract_mentions(
    triples: DataFrame, target_class: str | None = None
) -> DataFrame:
    """Mention = one typed subject within a document plus the bag of its
    literal attribute values. Columns: doc_id, entity, entity_type,
    attr_text (space-joined, attribute-sorted for determinism), strong_keys
    (sorted array of values of identifying predicates, here every literal
    whose predicate local-name contains 'ssn' / 'id')."""
    typed = triples.filter(F.col("pred") == RDF_TYPE)
    if target_class:
        typed = typed.filter(F.col("obj_value") == target_class)
    typed = typed.select(
        "doc_id",
        F.col("subj").alias("entity"),
        F.col("obj_value").alias("entity_type"),
    ).dropDuplicates(["doc_id", "entity"])

    lits = triples.filter(F.col("obj_kind") == "literal").select(
        "doc_id",
        F.col("subj").alias("entity"),
        F.element_at(F.split("pred", "[/#]"), -1).alias("attr"),
        F.col("obj_value").alias("val"),
    )
    attrs = lits.groupBy("doc_id", "entity").agg(
        F.concat_ws(
            " ", F.flatten(F.array_sort(F.collect_list(F.array("attr", "val"))))
        ).alias("attr_text"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("attr").rlike("(?i)ssn|^id$|identifier"), F.col("val"))
            )
        ).alias("strong_keys"),
    )
    return typed.join(attrs, ["doc_id", "entity"], "left").select(
        "doc_id",
        "entity",
        "entity_type",
        F.coalesce("attr_text", F.lit("")).alias("attr_text"),
        F.coalesce("strong_keys", F.array()).alias("strong_keys"),
    )


def _one_per_entity(mentions: DataFrame) -> DataFrame:
    """One mention per entity, the unit both blockers pair. An IRI
    mentioned in several documents (the same file at several commits) has
    a mention row per document; its representative is the least
    ``(attr_text, strong_keys)``, so blocking and scoring read the same
    deterministic bundle."""
    rep = F.min(F.struct("attr_text", "strong_keys")).alias("m")
    return mentions.groupBy("entity").agg(rep).select(
        "entity", "m.attr_text", "m.strong_keys"
    )


def _candidates(pairs: DataFrame) -> DataFrame:
    """The candidate columns both blockers emit, read off representative
    rows paired as ``a`` and ``b``."""
    return pairs.select(
        F.col("a.entity").alias("entity_a"),
        F.col("b.entity").alias("entity_b"),
        F.col("a.attr_text").alias("text_a"),
        F.col("b.attr_text").alias("text_b"),
        F.col("a.strong_keys").alias("keys_a"),
        F.col("b.strong_keys").alias("keys_b"),
    )


def block_candidates(mentions: DataFrame, n_salt: int = 1) -> DataFrame:
    """LSH blocking: entity pairs sharing any minhash band of their
    attribute token set (``lsh.lsh_pairs``, ``n_salt`` splits hot bands),
    each once, with both attribute bundles attached."""
    toks = F.array_distinct(F.split(F.col("attr_text"), " "))
    rows = _one_per_entity(mentions).select(
        "entity", "attr_text", "strong_keys", *minhash(toks)
    )
    return _candidates(lsh_pairs(rows, "entity", n_salt=n_salt))


def block_candidates_by_key(mentions: DataFrame) -> DataFrame:
    """Exact blocking on identifying attributes: candidates = entity pairs
    sharing ANY strong key (ssn-like). Deterministic and recall-complete
    for key-bearing entities — the standard first blocking pass in record
    linkage; minhash blocking (block_candidates) covers keyless mentions.
    The key join carries entity ids only; pairs sharing several keys are
    deduplicated as id pairs before the bundles attach.
    Shuffle is keyed by the strong key; a pathological hot key (one value
    shared by millions of entities) is the classic skew case — AQE
    skew-join splitting plus an upstream frequency cap handle it."""
    reps = _one_per_entity(mentions)
    keyed = reps.select("entity", F.explode("strong_keys").alias("key"))
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.entity") < F.col("b.entity")),
        )
        .select(F.col("a.entity").alias("id_a"), F.col("b.entity").alias("id_b"))
        .dropDuplicates()
    )
    return _candidates(attach(pairs, reps, "entity"))


def score_pairs(candidates: DataFrame) -> DataFrame:
    """Link scorer, pure Catalyst (stays inside whole-stage codegen — the
    r2 pandas-UDF version re-did in Python the same array Jaccard
    lsh_verified_pairs already computes JVM-side; VERDICT r2 #7):
    token-set Jaccard of the attribute bundles, +0.5 bonus when any
    strong key agrees (arrays_overlap), capped at 1.0. Semantics pinned
    to the old scorer bit-for-bit: split(' ') keeps the '' token for
    empty bundles on both sides, and int/int division is double."""
    ta = F.array_distinct(F.split(F.col("text_a"), " "))
    tb = F.array_distinct(F.split(F.col("text_b"), " "))
    jac = F.size(F.array_intersect(ta, tb)) / F.greatest(
        F.lit(1), F.size(F.array_union(ta, tb))
    )
    key_hit = F.coalesce(
        F.arrays_overlap("keys_a", "keys_b"), F.lit(False)
    ).cast("double")
    return candidates.withColumn(
        "score", F.least(F.lit(1.0), jac + F.lit(0.5) * key_hit)
    )


def link_edges(candidates: DataFrame, threshold: float = 0.9) -> DataFrame:
    """(src, dst) edges accepted by the scorer."""
    return (
        score_pairs(candidates)
        .filter(F.col("score") >= threshold)
        .select(F.col("entity_a").alias("src"), F.col("entity_b").alias("dst"))
    )
