"""MinHash/LSH blocking, shared by entity linking (``kg/linking.py``) and
corpus near-dedup (``queries/dedup.py``).

- ``minhash(tokens)``: the ``N_HASHES`` signature columns ``mh0..``, with
  ``mh_s = min over t of md5int("s:" + t)``. DuckDB mirror:
  ``queries/dedup.py::_MH_SQL``.
- ``band_rows(rows)``: one row per input row and band, adding the band's
  two raw minhash values ``(bh1, bh2)``. Equality on them is the same test
  as the oracle's ``md5(mh_2b || '_' || mh_2b+1)`` band hash (md5 does not
  collide on these inputs) on a narrower key.
- ``lsh_pairs(rows, id_col)``: pairs of rows sharing at least one band,
  each once; ``attach`` joins a wide payload onto selected id pairs.

Columnar signatures cost no shuffle; the band self-join is the only one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HASHES = 8
N_BANDS = 4  # 2 rows per band: (bh1, bh2)


def _mh(tokens, s: int):
    # the prefix is bound here, per s: a two-argument lambda passed to
    # F.transform would be read as (element, index)
    prefix = f"{s}:"
    return F.array_min(
        F.transform(
            tokens,
            lambda t: F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), t)), 1, 8), 16, 10
            ).cast("bigint"),
        )
    ).alias(f"mh{s}")


def minhash(tokens) -> list:
    """Signature columns ``mh0 .. mh{N_HASHES-1}`` of a token-array column.
    Pass distinct tokens: the value is the same, the md5 work is not."""
    return [_mh(tokens, s) for s in range(N_HASHES)]


def band_rows(rows: DataFrame) -> DataFrame:
    """Every column of ``rows`` (which hold the signature columns) plus
    ``(band_id, bh1, bh2)``: one row per input row and band."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.col(f"mh{2 * b}").alias("bh1"),
                F.col(f"mh{2 * b + 1}").alias("bh2"),
            )
            for b in range(N_BANDS)
        ]
    )
    return rows.select("*", F.explode(bands).alias("band")).select(
        *rows.columns, "band.band_id", "band.bh1", "band.bh2"
    )


def attach(pairs: DataFrame, rows: DataFrame, id_col: str) -> DataFrame:
    """Join both sides' rows onto ``(id_a, id_b)`` pairs; they are then
    read as ``a.<col>`` and ``b.<col>``."""
    return pairs.join(rows.alias("a"), F.col("id_a") == F.col(f"a.{id_col}")).join(
        rows.alias("b"), F.col("id_b") == F.col(f"b.{id_col}")
    )


def lsh_pairs(
    rows: DataFrame, id_col: str, *, n_salt: int = 1, self_pairs: bool = False
) -> DataFrame:
    """Candidate pairs: ids of ``rows`` sharing at least one band, each
    once. ``rows`` holds ``id_col`` (one row per id), the signature
    columns and any payload; the result is the band self-join, its two
    sides aliased ``a`` and ``b``, so every column of ``rows`` reads as
    ``a.<col>`` and ``b.<col>``. Keep the payload small (the band rows
    carry it): callers with a wide payload pass ids and signatures only
    and ``attach`` the rest to the selected ``(id_a, id_b)`` pairs.

    Each pair is emitted once, at its first shared band: no earlier band
    has equal hashes. The band rows carry the signature, so that test runs
    in the join's own stage as unrolled bigint comparisons inside
    whole-stage codegen (a slice/zip_with/exists form is an interpreted
    higher-order function per joined row, measured 16x slower). The pair
    stream needs no distinct and no shuffle.

    ``n_salt > 1`` splits hot bands: each left row goes to one salt
    bucket, each right row to all of them, so a band with B members costs
    B*n_salt rows in n_salt tasks instead of one task of B^2.

    Pairs have ``id_a < id_b``; ``self_pairs`` makes it ``<=``, so each id
    also pairs with itself (band 0 is its first shared band)."""
    e = band_rows(rows)
    key = ["band_id", "bh1", "bh2"]
    left = right = e
    if n_salt > 1:
        left = e.withColumn("salt", F.pmod(F.xxhash64(id_col), F.lit(n_salt)))
        right = e.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        key.append("salt")
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    cond = (ida <= idb) if self_pairs else (ida < idb)
    for k in key:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    earlier = F.lit(False)
    for bp in range(N_BANDS - 1):
        earlier = earlier | (
            (F.col("a.band_id") > bp)
            & (F.col(f"a.mh{2 * bp}") == F.col(f"b.mh{2 * bp}"))
            & (F.col(f"a.mh{2 * bp + 1}") == F.col(f"b.mh{2 * bp + 1}"))
        )
    return left.alias("a").join(right.alias("b"), cond).filter(~earlier)
