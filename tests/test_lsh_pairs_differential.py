"""Differential guard for the shared LSH blocking operator (lsh.lsh_pairs).

lsh_pairs emits each pair exactly once at its FIRST shared band (an
unrolled codegen filter) instead of band-join + .distinct(). The pair SET
must be identical to the straightforward md5 band-hash join + distinct on
any input — including adversarial shapes: exact duplicates (all bands
collide), singletons, empty strings, high-collision tiny vocabularies —
and for both of its callers: corpus dedup (q_minhash_lsh_pairs,
q_lsh_verified_pairs) and KG blocking (block_candidates, salted or not,
and block_candidates_by_key when an entity has several mention rows).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from harvesting_validator_spark.lsh import N_BANDS, N_HASHES
from harvesting_validator_spark.queries.common import tbl, tokens
from harvesting_validator_spark.queries.dedup import q_minhash_lsh_pairs


def _md5_bands(df, id_col, toks):
    """Reference band table, written out independently of lsh.py: one row
    per (id, band_id) with band_hash = md5(mh_2b || '_' || mh_2b+1), the
    form the DuckDB oracle (_BAND_SQL) uses."""

    def mh(s):
        prefix = f"{s}:"
        return F.array_min(
            F.transform(
                toks,
                lambda t: F.conv(
                    F.substring(F.md5(F.concat(F.lit(prefix), t)), 1, 8), 16, 10
                ).cast("bigint"),
            )
        )

    sig = [mh(s) for s in range(N_HASHES)]
    rows_per_band = N_HASHES // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws("_", *sig[b * rows_per_band : (b + 1) * rows_per_band])
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )
    return df.select(id_col, F.explode(bands).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def _band_join_distinct(bands, id_col, a_name, b_name):
    """The r2 formulation: band-hash self-join + distinct."""
    a, c = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias(a_name), F.col(f"b.{id_col}").alias(b_name))
        .distinct()
    )


def _reference_pairs(spark, sf_dir):
    d = tbl(spark, sf_dir, "documents")
    bands = _md5_bands(d, "doc_id", F.array_distinct(tokens()))
    return _band_join_distinct(bands, "doc_id", "doc_a", "doc_b")


def _write_docs(spark, tmp_path, texts):
    sf_dir = str(tmp_path / "sf")
    rows = [(i, t, "en", "synth", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def test_first_band_emission_equals_distinct(spark, tmp_path):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> heavy collisions
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
        for _ in range(120)
    ]
    # adversarial shapes: exact duplicates (collide in ALL bands),
    # singleton token docs, empty text
    texts += [texts[0]] * 3 + ["w0", ""]
    sf_dir = _write_docs(spark, tmp_path, texts)

    fast = {(r.doc_a, r.doc_b) for r in q_minhash_lsh_pairs(spark, sf_dir).collect()}
    ref = {(r.doc_a, r.doc_b) for r in _reference_pairs(spark, sf_dir).collect()}
    assert fast == ref
    assert fast, "collision-heavy corpus must produce candidate pairs"
    # each pair exactly once (set compare can hide duplicates)
    rows = q_minhash_lsh_pairs(spark, sf_dir).collect()
    assert len(rows) == len(fast)


def test_first_band_no_pairs_on_disjoint_vocab(spark, tmp_path):
    # each doc has a unique vocabulary -> no band can collide across docs
    texts = [f"u{i}a u{i}b u{i}c" for i in range(N_BANDS * 10)]
    sf_dir = _write_docs(spark, tmp_path, texts)
    assert q_minhash_lsh_pairs(spark, sf_dir).count() == 0


@pytest.mark.parametrize("n_salt", [1, 4])
def test_kg_block_candidates_equal_band_join_distinct(spark, n_salt):
    """KG blocking is lsh_pairs over mentions keyed by entity: its pair set
    equals the md5 band join + distinct over the same attribute token
    sets, salted or not, each pair once and with its own payload."""
    from harvesting_validator_spark.kg.linking import (
        block_candidates,
        extract_mentions,
    )
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import (
        generate_noisy_entity_sources,
    )

    triples = parse_sources_to_triples(generate_noisy_entity_sources(spark, 120))
    mentions = spark.createDataFrame(extract_mentions(triples).collect())
    toks = F.array_distinct(F.split(F.col("attr_text"), " "))
    ref = {
        (r.entity_a, r.entity_b)
        for r in _band_join_distinct(
            _md5_bands(mentions, "entity", toks), "entity", "entity_a", "entity_b"
        ).collect()
    }
    rows = block_candidates(mentions, n_salt=n_salt).collect()
    got = [(r.entity_a, r.entity_b) for r in rows]
    assert set(got) == ref
    assert ref, "low-entropy mentions must collide"
    assert len(got) == len(ref)
    text = {r.entity: r.attr_text for r in mentions.collect()}
    assert all(r.text_a == text[r.entity_a] and r.text_b == text[r.entity_b]
               for r in rows)


@pytest.mark.parametrize("blocker", ["minhash", "minhash_salted", "key"])
def test_kg_blockers_pair_entities_once_across_documents(spark, blocker):
    """An entity IRI mentioned in several documents (the same page at
    several commits) has a mention row per document. Both blockers pair
    entities, not mentions: each entity pair once, both sides carrying
    the entity's representative bundle (its least (attr_text,
    strong_keys)), and the pair set is that of the representatives."""
    from harvesting_validator_spark.kg.linking import (
        block_candidates,
        block_candidates_by_key,
        extract_mentions,
    )
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import (
        generate_noisy_entity_sources,
    )

    triples = parse_sources_to_triples(generate_noisy_entity_sources(spark, 60))
    base = extract_mentions(triples)
    rows = [tuple(r) for r in base.collect()]
    extra = []
    for k, (doc, ent, typ, text, keys) in enumerate(rows[:30]):
        # the same page at a later commit, unchanged
        extra.append((f"{doc}-c1", ent, typ, text, keys))
        if k % 3 == 1:  # a changed page whose bundle sorts after the first
            extra.append((f"{doc}-c2", ent, typ, text + " renamed", keys))
        if k % 3 == 2:  # a changed page whose bundle sorts first
            extra.append((f"{doc}-c3", ent, typ, "alias " + text, ["999-99-9999"]))
    mentions = spark.createDataFrame(
        [(str(r[0]),) + r[1:] for r in rows + extra],
        "doc_id string, entity string, entity_type string, attr_text string, "
        "strong_keys array<string>",
    )
    reps: dict = {}
    for _, ent, _, text, keys in rows + extra:
        rep = (text, list(keys))
        if ent not in reps or rep < reps[ent]:
            reps[ent] = rep

    if blocker == "key":
        got_df = block_candidates_by_key(mentions)
        ref = {
            (a, b)
            for a in reps
            for b in reps
            if a < b and set(reps[a][1]) & set(reps[b][1])
        }
    else:
        got_df = block_candidates(mentions, n_salt=4 if blocker == "minhash_salted" else 1)
        rep_df = spark.createDataFrame(
            [(e, t) for e, (t, _) in reps.items()], "entity string, attr_text string"
        )
        toks = F.array_distinct(F.split(F.col("attr_text"), " "))
        ref = {
            (r.entity_a, r.entity_b)
            for r in _band_join_distinct(
                _md5_bands(rep_df, "entity", toks), "entity", "entity_a", "entity_b"
            ).collect()
        }
    got = got_df.collect()
    pairs = [(r.entity_a, r.entity_b) for r in got]
    assert ref, "duplicated mentions must still collide"
    assert len(pairs) == len(set(pairs)), "an entity pair appeared more than once"
    assert set(pairs) == ref
    assert all(
        (r.text_a, list(r.keys_a)) == reps[r.entity_a]
        and (r.text_b, list(r.keys_b)) == reps[r.entity_b]
        for r in got
    )


# --- class-level + bitmap verified pairs ------------------------------------------
def _reference_verified(spark, sf_dir):
    """The r5 formulation: per-DOC-pair array_intersect on the band-join +
    distinct candidates."""
    from harvesting_validator_spark.queries.common import dround, md5_int

    pairs = _reference_pairs(spark, sf_dir)
    d = (
        tbl(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_distinct(F.transform(tokens(), md5_int)).alias("toks"),
        )
        .withColumn("n_toks", F.size("toks"))
    )
    j = pairs.join(d.alias("da"), pairs.doc_a == F.col("da.doc_id")).join(
        d.alias("db"), pairs.doc_b == F.col("db.doc_id")
    )
    inter = F.size(F.array_intersect(F.col("da.toks"), F.col("db.toks")))
    uni = F.col("da.n_toks") + F.col("db.n_toks") - inter
    jac = dround(inter.cast("double") / uni, 6)
    return j.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.7
    )


def _verified_rows(df):
    return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())


def _adversarial_texts(vocab_size: int, n_docs: int, seed: int):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(vocab_size)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
        for _ in range(n_docs)
    ]
    # exact duplicates (intra-class pairs, jaccard 1.0), near-identical
    # docs, singleton tokens, empty text
    texts += [texts[0]] * 3 + [texts[1] + " " + vocab[0], "w0", ""]
    return texts


def _hot_class_texts(vocab_size: int, seed: int):
    """One duplicate class of 300 identical docs (44,850 intra-class pairs)
    plus near-duplicates of it that differ by one token."""
    texts = _adversarial_texts(vocab_size, n_docs=150, seed=seed)
    hot = [f"w{i}" for i in range(9)]
    texts += [" ".join(hot)] * 300
    texts += [" ".join(hot[:k] + hot[k + 1:]) for k in range(5)]
    texts += [" ".join(hot + [f"w{vocab_size - 1}"])] * 2
    return texts


def _is_bitmap_path(spark, sf_dir):
    import harvesting_validator_spark.queries.dedup as dedup_mod

    return dedup_mod._bitmap_vocab(dedup_mod._token_classes(spark, sf_dir)) is not None


def test_class_bitmap_verified_equals_per_doc_reference(spark, tmp_path):
    """r6 rewrite guard: token-set classes + dictionary-bitmap intersects
    must reproduce the per-doc-pair array_intersect formulation exactly —
    including diagonal (duplicate-doc) pairs and the rounded jaccard."""
    from harvesting_validator_spark.queries.dedup import q_lsh_verified_pairs

    texts = _adversarial_texts(vocab_size=12, n_docs=120, seed=11)
    sf_dir = _write_docs(spark, tmp_path, texts)
    new = _verified_rows(q_lsh_verified_pairs(spark, sf_dir))
    ref = _verified_rows(_reference_verified(spark, sf_dir))
    assert new == ref
    assert new, "collision-heavy corpus must produce verified pairs"


def test_class_fallback_verified_equals_per_doc_reference(spark, tmp_path):
    """A >256-token vocabulary must overflow the bitmap dictionary and
    take the array_intersect fallback — with identical results."""
    import harvesting_validator_spark.queries.dedup as dedup_mod

    texts = _adversarial_texts(vocab_size=400, n_docs=150, seed=13)
    # force near-dup density despite the big vocab: clone a few docs
    texts += texts[:10]
    sf_dir = _write_docs(spark, tmp_path, texts)
    assert not _is_bitmap_path(spark, sf_dir), "400-token vocab must reject the bitmap path"
    new = _verified_rows(dedup_mod.q_lsh_verified_pairs(spark, sf_dir))
    ref = _verified_rows(_reference_verified(spark, sf_dir))
    assert new == ref
    assert new


@pytest.mark.parametrize("vocab_size,bitmap", [(12, True), (400, False)])
def test_hot_duplicate_class_verified_equals_reference(spark, tmp_path, vocab_size, bitmap):
    """A 300-doc duplicate class expands through the (class_id, doc_id)
    membership join, on both verify paths, to exactly the reference's
    doc pairs — each once."""
    from harvesting_validator_spark.queries.dedup import q_lsh_verified_pairs

    sf_dir = _write_docs(spark, tmp_path, _hot_class_texts(vocab_size, seed=17))
    assert _is_bitmap_path(spark, sf_dir) == bitmap
    new = _verified_rows(q_lsh_verified_pairs(spark, sf_dir))
    ref = _verified_rows(_reference_verified(spark, sf_dir))
    assert new == ref
    assert len(new) > 300 * 299 // 2
