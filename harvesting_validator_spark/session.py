"""SparkSession factory tuned for the KG-construction pipeline.

Local mode defaults to one task slot per core this process may run on
(``SPARK_GRAFT_CPUS`` overrides), single JVM. On a real cluster the same
builder works via spark-submit --py-files; only master / memory flags
change. AQE + skew-join splitting are on because the triple
table is inherently skewed on `pred` (rdf:type dominates) and LSH band
joins produce hot buckets (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on
    (its CPU affinity, so taskset/cpuset pinning is honoured)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _default_shuffle_partitions(master: str, cpus: int) -> int:
    """2x the master's cores: slack for stragglers without tiny-task
    overhead. ``local[N]`` counts N; ``local[*]`` or a master without a
    core count counts ``cpus``. A 1000-executor cluster run would set
    ~2-3x total cores via spark-submit conf instead."""
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
    return 2 * (cpus if n == "*" else int(n))


def get_spark(
    app_name: str = "harvesting_validator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = _default_cores()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(master, cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing is BYTE-sized (minPartitionSize 1MB): this engine's
        # shuffles are long repetitive IRI strings that compress ~20x, so
        # AQE coalesced CPU-heavy stages to a handful of partitions and
        # serialized validation at high core counts (measured: validate
        # 50.6s -> 30.0s at local[32]/4M docs with coalescing off). We size
        # spark.sql.shuffle.partitions explicitly instead; a cluster deploy
        # that wants coalescing back can re-enable it via extra_conf.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the whole pipeline is keyed (doc_id, ...): once triples are
        # hash-partitioned by doc_id, every join/groupBy keyed on a
        # doc_id-prefixed superset can reuse that single exchange. Joins
        # only exploit subset co-partitioning with this off (aggregations
        # always can); measured: validate() drops from 6 full-width
        # exchanges to 0 beyond the initial partition-by-doc_id.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k (up from r2's 10k): fewer, larger Arrow batches cut the
        # per-batch Python-worker handoff overhead the 8->32 window pays
        # 32x in parallel. Measured at local[32]/2M docs, interleaved
        # best-of-k across two studies on the noisy host: best 90.8k
        # docs/s vs 81.1k at 10k batches (+12% on bests, 6/9 pairwise
        # wins). ~50MB/batch/worker for this corpus's row widths; wide
        # binary columns can lower it via extra_conf.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # local mode: driver heap IS the executor heap; 8g starved 32
        # concurrent tasks (cache blocks + shuffle buffers -> GC churn)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # default 10MB: bigger thresholds made AQE broadcast the focus-set
        # side of per-doc joins — a driver-serialized broadcast build per
        # join that destroyed multi-core scaling
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # r6 (guide §6): the stock 128MB split size leaves every mid-size
        # bench parquet (lineitem 126MB, orders 25MB, events 16MB) on 1-2
        # scan tasks, serializing scan+project+partial-agg pipelines on a
        # 32-core box with AQE coalescing off. 16MB floors scan
        # parallelism at ~bytes/16MB tasks (measured: the lineitem/events
        # query set 13.6s -> 8.4s at sf1.0; 4MB adds nothing more).
        # Scale-dependent by design: a cluster doing large sequential
        # scans wants 128MB-1GB — override via SPARK_GRAFT_MAX_PARTITION_
        # BYTES or extra_conf; CPU-bound small-file local runs keep 16MB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
