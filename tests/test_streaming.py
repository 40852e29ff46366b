"""Structured-Streaming ingestion: files land -> validated incrementally,
replays are no-ops, outputs equal the batch pipeline's."""

from __future__ import annotations

from pyspark.sql import functions as F

from harvesting_validator_spark.plans.pipeline import run_validation
from harvesting_validator_spark.sources.synthetic import (
    APPLICATION_PROFILE,
    generate_sources,
)
from harvesting_validator_spark.streaming.micro_batch import (
    run_streaming_validation,
)


def test_streaming_validation_end_to_end(spark, tmp_path):
    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "wh")
    corpus = generate_sources(spark, 40).persist()

    # first batch of files lands
    corpus.filter(F.col("path").rlike("page[0-1]?[0-9]\\.")).write.mode(
        "append"
    ).parquet(landing)
    q = run_streaming_validation(spark, landing, APPLICATION_PROFILE, wh)
    assert q.awaitTermination(120), "stream run did not finish in time"
    assert spark.read.parquet(f"{wh}/verdicts").count() == 20

    # more files land (including re-delivered duplicates of batch 1)
    corpus.write.mode("append").parquet(landing)
    q = run_streaming_validation(spark, landing, APPLICATION_PROFILE, wh)
    assert q.awaitTermination(180), "stream run did not finish in time"

    verdicts = spark.read.parquet(f"{wh}/verdicts")
    assert verdicts.count() == 40  # doc-level dedup absorbed the replays
    assert verdicts.select("doc_id").distinct().count() == 40

    # equality with the batch pipeline over the same corpus (modulo the
    # batch_id partition column the incremental appends add)
    batch = run_validation(spark, corpus, APPLICATION_PROFILE)
    assert {tuple(r) for r in verdicts.select(*batch.verdicts.columns).collect()} == {
        tuple(r) for r in batch.verdicts.collect()
    }
    corpus.unpersist()
