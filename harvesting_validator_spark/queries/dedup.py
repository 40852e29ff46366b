"""Deduplication operators over the `documents` table — exact hash-dedup,
MinHash+LSH candidate generation and verification, SimHash, n-gram
Jaccard, embedding-cosine and incremental novelty — each with an exact
DuckDB oracle.

Minhash signatures, band rows and the band self-join come from
``harvesting_validator_spark.lsh``, the one LSH operator that KG entity
linking uses too; this module adds the document-side inputs (signatures
per doc, or per token-set class in lsh_verified_pairs) and the verify
step. The DuckDB SQL here (_MH_SQL, _BAND_SQL with its md5 band hashes)
is the independent reference.

Scale notes: signatures are columnar array transforms — zero shuffles,
no Python. Only the LSH band self-join shuffles, and it carries ids and
band values only; hot bands are what AQE skew-join splitting handles
(session.py). At 100 TB the brute-force Jaccard pair scan is replaced by
the LSH candidates (minhash_lsh_pairs) + verify-on-candidates
(lsh_verified_pairs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from harvesting_validator_spark.lsh import (
    N_BANDS,
    N_HASHES,
    attach,
    band_rows,
    lsh_pairs,
    minhash,
)
from harvesting_validator_spark.queries.common import (
    dround,
    md5_int,
    spread_scan,
    tbl,
    tokens,
)


# --- exact dedup: hash-groupBy ---------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc"))
    )


O_EXACT = """
SELECT sha256(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_doc
FROM documents GROUP BY sha256(text)
"""


# --- minhash signatures (columnar, shuffle-free; lsh.minhash) ----------------
_MH_SQL = ",\n       ".join(
    f"list_min(list_transform(list_distinct(string_split(text, ' ')), "
    f"t -> ('0x' || substr(md5('{s}:' || t), 1, 8))::BIGINT)) AS mh{s}"
    for s in range(N_HASHES)
)


def q_minhash_signatures(spark, sf_dir):
    d = tbl(spark, sf_dir, "documents")
    return d.select("doc_id", *minhash(F.array_distinct(tokens())))


O_MINHASH = f"SELECT doc_id,\n       {_MH_SQL}\nFROM documents"


_BAND_SQL = f"""
WITH sig AS (SELECT doc_id, {_MH_SQL.replace(chr(10) + '       ', ' ')} FROM documents),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_id, md5(mh{2 * b} || '_' || mh{2 * b + 1}) AS band_hash FROM sig"
      for b in range(N_BANDS)
  )}
)
"""


# --- LSH candidate pairs: band self-join ------------------------------------------
def q_minhash_lsh_pairs(spark, sf_dir):
    """Docs sharing >=1 of the 4 (2-row) minhash bands — the blocking step
    of web-scale near-dedup (SURVEY §2.3 similarity join), as
    ``lsh.lsh_pairs`` over the signature table.

    Exactly-once pairs WITHOUT a distinct: on a near-dup-dense corpus a
    pair collides in ~4 bands, so the r2 shape (join -> 40M raw pair rows
    at sf0.1 -> .distinct()) paid a full exchange + hash dedup on the
    quadratic pair stream — the single most expensive shuffle in the
    bench suite. lsh_pairs emits a pair only at its first shared band, a
    map-side filter: identical pair set, zero pair-stream shuffle."""
    # parallelism guard: with no pair-dedup shuffle, the whole pipeline
    # fuses into the stage that SCANS the documents parquet — one small
    # file at bench sf = 1-4 splits, so the quadratic pair work ran
    # near-serial. Spreading the tiny signature table (1 row/doc) across
    # default parallelism restores full-width probing; at corpus scale
    # the scan already has enough splits and spread_scan no-ops
    sig = spread_scan(spark, sf_dir, "documents", q_minhash_signatures(spark, sf_dir))
    return lsh_pairs(sig, "doc_id").select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


O_LSH_PAIRS = (
    _BAND_SQL
    + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""
)


# --- simhash (16-bit, md5-digit parity) --------------------------------------------
def q_simhash(spark, sf_dir):
    d = tbl(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens())

    def bit_sum(b: int):
        # closure factory: see lsh._mh on F.transform lambdas
        return F.aggregate(
            F.transform(
                toks,
                lambda t: (
                    F.conv(F.substring(F.md5(t), b, 1), 16, 10).cast("int") % 2
                )
                * 2
                - 1,
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    simhash = F.lit(0).cast("bigint")
    for b in range(1, 17):
        simhash = simhash + F.when(bit_sum(b) > 0, F.lit(2 ** (b - 1))).otherwise(
            F.lit(0)
        )
    return d.select("doc_id", simhash.alias("simhash"))


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(toks, "
    f"t -> (('0x' || substr(md5(t), {b}, 1))::INT % 2) * 2 - 1)) > 0 "
    f"THEN {2 ** (b - 1)} ELSE 0 END)"
    for b in range(1, 17)
)

O_SIMHASH = f"""
WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t
"""


# --- n-gram (unigram-set) Jaccard on a sampled block --------------------------------
# absolute block cap: <=1000 docs pass the filter at ANY scale factor, so
# the pair space is bounded at 500k regardless of corpus size (a modulo
# fraction alone would grow O((n/10)^2) with the corpus)
_JACCARD_BLOCK_CAP = 10_000


def q_ngram_jaccard(spark, sf_dir):
    """Brute-force token-set Jaccard over a deterministic, ABSOLUTELY
    bounded block (doc_id % 10 == 0 AND doc_id < 10000 -> <=1000 docs at
    any sf) — the verify-step demo of near-dedup. At scale the verify
    runs only on LSH candidate pairs (lsh_verified_pairs), never
    all-pairs. The bounded side is broadcast, so the non-equi self-join
    is a BroadcastNestedLoopJoin over a constant-size block — never a
    CartesianProduct (guarded by tests/test_plans.py)."""
    d = (
        tbl(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < _JACCARD_BLOCK_CAP))
        .select("doc_id", F.array_distinct(tokens()).alias("toks"))
    )
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    uni = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = dround(inter.cast("double") / uni, 6)
    return (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


O_JACCARD = f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id % 10 = 0 AND doc_id < {_JACCARD_BLOCK_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
"""


# --- LSH-verified near-dup pairs: blocking + verify composed -------------------------
# bitmap fast path covers corpora whose distinct token-hash vocabulary fits
# 4 x 64-bit words; larger vocabularies fall back to array_intersect
_LSH_VOCAB_WORDS_MAX = 4
# r6: the class table and the membership table are persisted per
# invocation (they feed several plan branches); the previous invocation's
# caches are released here so repeated calls in one session hold at most
# one resident copy of each (bench.py additionally sweeps via
# release_new_rdds between queries).
_LSH_CLS_CACHE: list = []
_LSH_MEM_CACHE: list = []


def _doc_token_sets(spark, sf_dir):
    d = tbl(spark, sf_dir, "documents")
    return d.select("doc_id", F.array_sort(F.array_distinct(tokens())).alias("ts"))


def _token_classes(spark, sf_dir):
    """Token-set equivalence classes of the documents corpus (r6, guide
    §2.3/§8: decide on lightweight proxies, expand to heavy rows last).

    Docs sharing the exact (string) token SET share their minhash
    signature, their band hashes AND their Jaccard against any other doc —
    so blocking + verification is a function of the class pair, not the
    doc pair. On the bench corpus this cuts raw band collisions 3x
    (2.33G -> 0.78G at sf1.0) and Jaccard evaluations ~2.2x, and lets the
    >=0.7 filter run BEFORE the doc-pair expansion. One row per token set
    ``ts``, named by its min doc_id; a groupBy keeps map-side partial
    aggregation, so a hot class costs no task its size. Members are not
    collected: ``_class_members`` joins docs back by ``ts``."""
    cls = _doc_token_sets(spark, sf_dir).groupBy("ts").agg(
        F.min("doc_id").alias("class_id")
    )
    ti = F.array_distinct(F.transform(F.col("ts"), md5_int))
    return cls.select(
        "class_id", "ts", ti.alias("ti"), *minhash(F.col("ts"))
    ).withColumn("n_toks", F.size("ti"))


def _class_members(spark, sf_dir, cls):
    """The ``(class_id, doc_id)`` membership table: each doc joined to its
    row of the class table ``cls`` by token set — one row per doc, no
    per-class array, and no second grouping of the corpus."""
    return (
        _doc_token_sets(spark, sf_dir)
        .join(cls.select("ts", "class_id"), "ts")
        .select("class_id", "doc_id")
    )


def _bitmap_vocab(cls, n_classes: int | None = None):
    """Bounded dictionary probe for the bitmap fast path. At most two
    metadata-sized actions: an HLL estimate first (map-side partial agg
    — cheap at any corpus size, and the scale guard: a web-scale
    vocabulary never reaches the exact pass), then an exact distinct
    capped at 257 rows. When the caller already knows the class count is
    small (the persist count), the exact pass alone is cheaper than
    HLL + exact, so the estimate is skipped. Exactness never rests on
    the HLL estimate — if the capped distinct overflows the word budget
    the caller falls back to array_intersect. Returns the sorted
    token-hash vocabulary, or None."""
    cap = 64 * _LSH_VOCAB_WORDS_MAX
    exploded = cls.select(F.explode("ti").alias("t"))
    if n_classes is None or n_classes > 1_000_000:
        approx = (
            exploded.agg(F.approx_count_distinct("t").alias("c")).collect()[0]["c"]
        )
        if approx > cap + 64:  # HLL error margin; only a hint, never a proof
            return None
    vals = [r["t"] for r in exploded.distinct().limit(cap + 1).collect()]
    if len(vals) > cap:
        return None
    return sorted(vals)


def _bitmap_words(vocab):
    """Literal tok_hash -> single-bit-word maps, one per 64-bit word."""
    n_words = max(1, -(-len(vocab) // 64))
    maps = []
    for w in range(n_words):
        ents = []
        for i, tok in enumerate(vocab):
            if i // 64 != w:
                continue
            v = 1 << (i % 64)
            if v >= 2**63:
                v -= 2**64  # sign-wrap into a BIGINT
            ents += [F.lit(tok), F.lit(v)]
        maps.append(F.create_map(*ents))
    return maps


def q_lsh_verified_pairs(spark, sf_dir):
    """The scale path: Jaccard computed ONLY on LSH candidates (the
    all-pairs quadratic scan never happens).

    r6 rewrite (measured 180.8s -> ~17s at sf1.0, plan evidence in
    plans/r06/): the old per-DOC-pair verify attached ~40-element int
    arrays to every candidate pair and ran one hash-set array_intersect
    per pair (~1.05G pairs at sf1.0, ~5us each — the whole suite's
    dominant cost). Now:

    1. Docs collapse to token-set equivalence classes (_token_classes):
       blocking and Jaccard are class-pair functions, so raw band
       collisions drop 3x and each Jaccard is computed once per class
       pair instead of once per doc pair.
    2. When the corpus' distinct token-hash vocabulary fits 256 values
       (probed by _bitmap_vocab with two metadata-sized actions — the
       documented sanctioned collect class), token sets dictionary-encode
       into <=4 BIGINT words and |A∩B| = sum of bit_count(wa & wb):
       pure whole-stage-codegen arithmetic, no per-pair allocation
       (guide §2.3 "narrower types", §4.2 moved into Catalyst). The
       dictionary is exact over md5-int token values, so bitmap
       intersections equal int-set intersections bit-for-bit; md5-int
       collisions behave identically to the oracle's int-set semantics.
       Larger vocabularies keep the array_intersect fallback on the
       class-level plan (still ~3x fewer intersects than r5).
    3. Blocking is ``lsh.lsh_pairs`` over the class signatures: the band
       self-join carries (class_id, band_id, bh1, bh2) plus the earlier
       bands' signature values, so each class pair leaves the join once,
       at its first shared band — small enough that statistics/AQE keep
       it broadcast at bench sf (never forced: at 10^12-doc scale it
       degrades to a shuffled join, guarded by tests/test_plans.py).
       Class metadata attaches by class_id to the emitted pairs only.
       ``self_pairs`` (`<=` on class_id) emits the diagonal (intra-class)
       pairs through the same pipeline — band 0 is their first shared
       band, Jaccard reduces to n/n = 1.0 — avoiding a Union branch (a
       union above this pipeline measured 7x slower than the fused
       single pipeline: the count no longer fuses into the probe stage).
    4. The >=0.7 filter runs on class pairs BEFORE expansion; only
       passing pairs expand to doc pairs, by joining the (class_id,
       doc_id) membership table (_class_members) once per side. No
       per-class member array is built, so a hot class is ordinary join
       rows that AQE skew handling can split. The (ca != cb) | (da < db)
       filter orders diagonal pairs exactly once; singleton diagonals
       vanish there.

    The class table is persisted (it feeds 7 plan branches; InMemory
    stats also give AQE true sizes for the broadcast decisions), and the
    membership table, joined to it by token set, is persisted next to it:
    the corpus is grouped by token set once. The previous invocation's
    caches are released via _LSH_CLS_CACHE / _LSH_MEM_CACHE."""
    from harvesting_validator_spark.runtime import swap_persisted

    cls = swap_persisted(_LSH_CLS_CACHE, _token_classes(spark, sf_dir))
    # full-width materialization before any column-pruned reader (house
    # invariant: first-scan column pruning breaks later full-width reads)
    n_classes = cls.count()
    # persisted too: the two expansion joins below would each rebuild it,
    # since AQE reuses no exchange above a cached-table stage
    mem = swap_persisted(_LSH_MEM_CACHE, _class_members(spark, sf_dir, cls))
    vocab = _bitmap_vocab(cls, n_classes)
    if vocab is not None:
        words = _bitmap_words(vocab)
        n_words = len(words)

        def word_col(w: int):
            m = words[w]
            return F.aggregate(
                "ti",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc.bitwiseOR(
                    F.coalesce(F.element_at(m, x), F.lit(0).cast("bigint"))
                ),
            ).alias(f"w{w}")

        cls = cls.select(*cls.columns, *[word_col(w) for w in range(n_words)])
        verify_cols = [f"w{w}" for w in range(n_words)]
    else:
        n_words = 0
        verify_cols = ["ti"]

    sig = cls.select("class_id", *[f"mh{i}" for i in range(N_HASHES)])
    meta = cls.select("class_id", "n_toks", *verify_cols)
    pairs = lsh_pairs(sig, "class_id", self_pairs=True).select(
        F.col("a.class_id").alias("id_a"), F.col("b.class_id").alias("id_b")
    )
    j = attach(pairs, meta, "class_id")
    if n_words:
        inter = sum(
            (
                F.bit_count(F.col(f"a.w{w}").bitwiseAND(F.col(f"b.w{w}")))
                for w in range(n_words)
            ),
            F.lit(0),
        ).cast("bigint")
    else:
        inter = F.size(F.array_intersect(F.col("a.ti"), F.col("b.ti"))).cast(
            "bigint"
        )
    uni = F.col("a.n_toks") + F.col("b.n_toks") - inter
    jac = dround(inter.cast("double") / uni, 6)
    if n_words:
        # integer-exact >= 0.7 pre-filter (bitmap path only): Spark's
        # round() allocates a BigDecimal per evaluation, and the filter
        # otherwise pays it on EVERY surviving band collision. With
        # round-half-up to 6 places, round(i/u,6) >= 0.7  <=>  i/u >=
        # 0.6999995  <=>  10^7*i >= 6999995*u — exact in integers, and
        # the double division cannot straddle the boundary because u <=
        # 2*256 here, so i/u is never within 1e-6 of 0.6999995 without
        # being >= 0.7 exactly (nearest fraction with denominator <= 512
        # sits >= ~3.8e-6 away). The projected jaccard column keeps the
        # identical round() expression, now computed only on survivors;
        # NULLs (absent masks) drop under both predicates. The
        # array_intersect fallback keeps the plain rounded filter (u is
        # unbounded there).
        j = j.filter(
            (inter * F.lit(10_000_000).cast("bigint"))
            >= (F.lit(6_999_995).cast("bigint") * uni)
        )
    cp = j.select(
        F.col("id_a").alias("ca"), F.col("id_b").alias("cb"), jac.alias("jaccard")
    ).filter(F.col("jaccard") >= 0.7)

    da, db = F.col("xa.doc_id"), F.col("xb.doc_id")
    return (
        cp.join(mem.alias("xa"), F.col("ca") == F.col("xa.class_id"))
        .join(mem.alias("xb"), F.col("cb") == F.col("xb.class_id"))
        .filter((F.col("ca") != F.col("cb")) | (da < db))
        .select(
            F.least(da, db).alias("doc_a"),
            F.greatest(da, db).alias("doc_b"),
            "jaccard",
        )
    )


O_LSH_VERIFIED = (
    _BAND_SQL
    + """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
tok AS (SELECT doc_id,
               list_distinct(list_transform(string_split(text, ' '),
                             t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)) AS toks
        FROM documents)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) AS jaccard
FROM cand
JOIN tok ta ON cand.doc_a = ta.doc_id
JOIN tok tb ON cand.doc_b = tb.doc_id
WHERE round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) >= 0.7
"""
)


# --- near-dup clusters + keep-list: verify edges -> connected components ----------
def q_dedup_clusters(spark, sf_dir):
    """The last step of a production dedup pipeline: group near-duplicate
    docs into clusters (connected components over the verified-pair graph)
    and elect one keeper per cluster (min doc_id). Runs over the same
    absolutely-bounded block as ngram_jaccard, so the oracle's recursive
    closure stays cheap at any sf; at corpus scale the edge source is
    lsh_verified_pairs and the CC is the same pointer-jumping loop
    (kg/canonicalize.py) that canonicalizes entities."""
    from harvesting_validator_spark.kg.canonicalize import canonical_mapping

    edges = q_ngram_jaccard(spark, sf_dir).select(
        # zero-padded so lexicographic min == numeric min inside the
        # string-keyed union-find
        F.format_string("%012d", F.col("doc_a")).alias("src"),
        F.format_string("%012d", F.col("doc_b")).alias("dst"),
    )
    block = (
        tbl(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < _JACCARD_BLOCK_CAP))
        .select(F.format_string("%012d", F.col("doc_id")).alias("entity"))
    )
    mapping = canonical_mapping(block, edges)
    return (
        mapping.groupBy(F.col("canonical").cast("bigint").alias("keep_doc"))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


O_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id % 10 = 0 AND doc_id < {_JACCARD_BLOCK_CAP}
),
e AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
),
und AS (SELECT da AS s, db AS d FROM e UNION ALL SELECT db, da FROM e),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM t
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON und.s = reach.r
)
SELECT r AS keep_doc, count(*) AS n_members
FROM (SELECT node, min(r) AS r FROM reach GROUP BY node)
GROUP BY r
"""


# --- embedding-cosine near-dup (task brief's fifth dedup variant) ----------------
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-space near-dup detection: hyperplane-LSH buckets block
    the pair space (sign-hash collision is necessary for cos ~ 1), exact
    cosine runs within buckets, and the top candidate pair per bucket is
    reported (a production run filters `cos >= tau` instead; this corpus
    has no true near-dups — max within-bucket cos ~ 0.51 — so the argmax
    keeps the operator observable)."""
    from pyspark.sql.window import Window

    from harvesting_validator_spark.queries.common import spread_tbl
    from harvesting_validator_spark.queries.similarity import (
        _as_double,
        _bucket_col,
        _cosine,
    )

    e = spread_tbl(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    ).withColumn("bucket", _bucket_col(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = dround(_cosine(F.col("a.v"), F.col("b.v")), 6)
    scored = pairs.select(
        F.col("a.bucket").alias("bucket"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cos.alias("cos"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("cos"), F.asc("vec_a"), F.asc("vec_b")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("bucket", "vec_a", "vec_b", "cos")
    )


def _o_dedup_cosine():
    from harvesting_validator_spark.queries.similarity import (
        _COS_SQL,
        _PLANE_SQL_TERMS,
    )

    cos = _COS_SQL.replace("q.v", "a.v").replace("e.v", "b.v")
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
v AS (SELECT vec_id, v, CAST({_PLANE_SQL_TERMS} AS INT) AS bucket FROM base)
SELECT bucket, vec_a, vec_b, cos FROM (
  SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY cos DESC, vec_a, vec_b) = 1
"""


# --- incremental dedup: new batch vs an existing LSH index --------------------
def q_dedup_incremental_novel(spark, sf_dir):
    """Dedup a NEW crawl batch against the EXISTING corpus index without
    ever forming doc-doc pairs: the index is the distinct (band_id, bh1,
    bh2) set (``lsh.band_rows``) of already-ingested docs (here: doc_id %
    10 != 0 stands in for the corpus, % 10 == 0 for the new batch); each batch
    doc probes its own bands with a left join and is novel iff NO band
    hits. This is the steady-state shape of corpus-scale dedup — the
    index is an append-only band table, the per-batch cost is
    |batch| × bands probes (one keyed equi-join), never the quadratic
    candidate stream a full self-join re-pays every ingest."""
    bands = band_rows(q_minhash_signatures(spark, sf_dir))
    key = ["band_id", "bh1", "bh2"]
    idx = (
        bands.filter(F.col("doc_id") % 10 != 0)
        .select(*key)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    batch = bands.filter(F.col("doc_id") % 10 == 0)
    joined = batch.join(idx, key, "left")
    return joined.groupBy("doc_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
            "n_hit_bands"
        ),
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == 0).alias("is_novel"),
    )


O_INCREMENTAL_NOVEL = (
    _BAND_SQL
    + """
, idx AS (
  SELECT DISTINCT band_id, band_hash FROM bands WHERE doc_id % 10 != 0
),
batch AS (SELECT * FROM bands WHERE doc_id % 10 = 0)
SELECT b.doc_id,
       CAST(sum(CASE WHEN i.band_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit_bands,
       sum(CASE WHEN i.band_hash IS NOT NULL THEN 1 ELSE 0 END) = 0 AS is_novel
FROM batch b
LEFT JOIN idx i ON b.band_id = i.band_id AND b.band_hash = i.band_hash
GROUP BY b.doc_id
"""
)


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_clusters": q_dedup_clusters,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash": q_simhash,
    "ngram_jaccard": q_ngram_jaccard,
    "lsh_verified_pairs": q_lsh_verified_pairs,
    "dedup_incremental_novel": q_dedup_incremental_novel,
}

ORACLES = {
    "dedup_exact": O_EXACT,
    "dedup_clusters": O_DEDUP_CLUSTERS,
    "dedup_embedding_cosine": _o_dedup_cosine(),
    "minhash_signatures": O_MINHASH,
    "minhash_lsh_pairs": O_LSH_PAIRS,
    "simhash": O_SIMHASH,
    "ngram_jaccard": O_JACCARD,
    "lsh_verified_pairs": O_LSH_VERIFIED,
    "dedup_incremental_novel": O_INCREMENTAL_NOVEL,
}
