"""Executor-storage hygiene for iterative plans.

``DataFrame.localCheckpoint()`` pins the materialized RDD in executor
storage for the life of the session — there is no DataFrame-level API to
release it (``DataFrame.unpersist`` only covers ``persist()`` cache
entries, not checkpoint RDDs). Iterative queries (union-find pointer
jumping, fixed-point PageRank) therefore accumulate one resident RDD per
probed round, and in a shared bench session that storage precedes later
queries' cold passes (VERDICT r3 "What's wrong" #2a).

Mirror of the reference's explicit per-run teardown
(``ValidationRun.cleanup()`` analog; reference keeps per-task state in a
scratch graph it drops on task completion): snapshot the persistent-RDD
id set before a unit of work, and unpersist everything new once the
work's output is materialized (or superseded by a later checkpoint).

Works on the classic (py4j) PySpark backend used here; every helper
degrades to a no-op if the gateway internals are unavailable (e.g. Spark
Connect), so callers never need to guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all RDDs currently pinned in executor storage
    (cache/persist AND local checkpoints)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(e.getKey()) for e in jmap.entrySet().toArray()}
    except Exception:
        return set()


def unpersist_rdds(spark: SparkSession, ids: set[int], blocking: bool = False) -> int:
    """Unpersist the given RDD ids; returns how many were released.
    Non-blocking by default (release happens asynchronously — fine for
    hygiene; pass blocking=True in tests that assert storage levels)."""
    if not ids:
        return 0
    released = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for e in jmap.entrySet().toArray():
            if int(e.getKey()) in ids:
                e.getValue().unpersist(blocking)
                released += 1
    except Exception:
        pass
    return released


def release_new_rdds(
    spark: SparkSession, before: set[int], blocking: bool = False
) -> int:
    """Unpersist every RDD pinned since the ``before`` snapshot. Call
    after a query's output is fully materialized (counted/collected) —
    at that point no plan will re-read the checkpoints."""
    return unpersist_rdds(spark, persistent_rdd_ids(spark) - before, blocking)


def checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager ``localCheckpoint`` of ``df``: the result, one ``Scan
    ExistingRDD`` leaf without the producer's plan text or partitioning,
    and its own RDD id for the owner to release with ``unpersist_rdds``
    (not the ids of upstream caches its job happens to fill)."""
    df = df.localCheckpoint()
    try:
        return df, {int(df._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:
        return df, set()


# --- bucketed scratch tables ---------------------------------------------------
# Loop-invariant join inputs written as BUCKETED parquet tables (the
# localCheckpoint-UnknownPartitioning workaround, queries/graphops.py)
# register a session-catalog entry AND an on-disk directory; neither has
# an RDD id, so the storage sweeps above never see them. Track them here
# with the same discipline: record at creation, release once the
# consuming query's output is materialized. After release, the query's
# returned DataFrames must NOT be re-evaluated (the scan's files are
# gone — same contract as releasing a localCheckpoint).
_BUCKETED_TABLES: dict[int, dict[str, str]] = {}


def track_bucketed_table(spark: SparkSession, name: str, path: str) -> None:
    # r6: pagerank (the registry's last writer) moved to a persisted
    # repartition, so nothing registers here today — the seam stays
    # because bench.py (frozen) sweeps via release_bucketed_tables and
    # any future bucketed scratch table must re-use this hygiene path.
    _BUCKETED_TABLES.setdefault(id(spark), {})[name] = path


def swap_persisted(handles: list, df):
    """Persist ``df`` and hand it into a module-level single-slot cache,
    releasing whatever the slot held. Release happens BEFORE the new
    persist: for a repeated (session, inputs) call the two plans are
    identical, so persist-then-release would no-op the new persist
    ("already cached") and then drop the shared cache entry from under
    it. Callers' bench sweeps (release_new_rdds) stay the backstop."""
    while handles:
        try:
            handles.pop().unpersist()
        except Exception:
            pass
    df = df.persist()
    handles.append(df)
    return df


def release_bucketed_tables(spark: SparkSession) -> int:
    """DROP every tracked bucketed scratch table of this session and
    delete its files; returns how many were released. Degrades to
    best-effort per table (a missing dir or already-dropped entry is not
    an error — release is idempotent)."""
    from harvesting_validator_spark import fs

    tables = _BUCKETED_TABLES.pop(id(spark), {})
    released = 0
    for name, path in tables.items():
        try:
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
            fs.delete(spark, path, recursive=True)
            released += 1
        except Exception:
            pass
    return released
