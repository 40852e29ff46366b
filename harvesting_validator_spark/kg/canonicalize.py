"""Union-find canonicalization via iterative hash-min label propagation
(SURVEY.md §2.11: "not a UDF — iterative DataFrame hash-min label
propagation (join+groupBy min until fixpoint), driver-side loop").

Connected components over the link-edge graph; each component's canonical
id is its lexicographically smallest member IRI (deterministic under any
partitioning — no monotonically_increasing_id anywhere, C4).

Scale notes: each round combines neighbor min-propagation with pointer
jumping (label(n) <- label(label(n))), so convergence is O(log diameter)
rounds — a 10^6-long equivalence chain resolves in ~20 rounds, not 10^6.
Each round is one groupBy-min + two joins; the edge side is served from a
persisted repartition("b") cache whose InMemoryTableScan advertises its
hash layout and sort order, so only O(|V|) label rows shuffle per round —
never the edge list. ``localCheckpoint`` truncates the label chain's
lineage each round (iterative plans otherwise grow exponentially and
re-execute from the source). Skew (one giant component) is bounded because propagation only
ever materializes (node, label) pairs — never the component as a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvesting_validator_spark.runtime import (
    checkpoint,
    loop_width,
    unpersist_rdds,
)

# rounds between checkpoint+fixpoint-probe driver round-trips. Each probe
# is a blocking driver job; with pointer jumping converging in O(log d)
# rounds, probing every 2nd round halves the serial driver cost at worst
# one redundant (cheap, already-converged) round — measured r2: per-round
# probes made kg_canonical_graph swing 17s -> 38s under host noise because
# every round paid TWO job launches (eager checkpoint + probe). Unprobed
# rounds stay lazy: their joins fuse into the next probed round's plan, so
# 2 rounds cost ONE job.
CHECKPOINT_EVERY = 2


def _sort_key(col):
    """Canonical-id ordering: IRIs before blank nodes ('_:' would
    lexicographically beat 'http://', and a doc-scoped bnode label must
    never become the canonical id of a cluster that contains a stable
    IRI). Encoded as a 1-char prefix, stripped by _strip_key."""
    return F.when(
        col.startswith("_:"), F.concat(F.lit("~"), col)
    ).otherwise(F.concat(F.lit("!"), col))


def _strip_key(col):
    return F.substring(col, 2, 1 << 30)


def connected_components(
    edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """edges(src, dst) -> (entity, canonical). Includes singletons only if
    they appear in an edge; callers union isolated nodes afterwards.
    Canonical = the IRI-preferring minimum member of the component.
    Probes for the fixpoint every ``CHECKPOINT_EVERY`` rounds.

    The loop sizes its label shuffles through ``runtime.loop_width`` (see
    its concurrency note)."""
    edges = edges.select(
        _sort_key(F.col("src")).alias("src"), _sort_key(F.col("dst")).alias("dst")
    )
    spark = edges.sparkSession
    # r6: symmetrize via ONE explode instead of a union of two selects —
    # Catalyst does no common-subexpression elimination across union
    # branches, so the union recomputed the edge source (typically the
    # full blocking + Arrow pair-scoring pipeline) once per direction
    # (profiled at sf1.0: the duplicated branch was the single hottest
    # stage of kg_canonical_graph)
    both = F.array(
        F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
        F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
    )
    # materialize ONCE: every iteration joins against the edge list,
    # which usually sits on an expensive upstream (LSH blocking + Arrow
    # pair scoring) — without this, each round re-executed that whole
    # pipeline (measured 57s -> ~3s for the 5k-doc bench corpus)
    und0, und0_ids = checkpoint(
        edges.select(F.explode(both).alias("e")).select("e.a", "e.b").distinct()
    )
    # iterative rounds work on small (node,label) tables whose size is
    # known after the checkpoint: size the loop's shuffle partitions to
    # the data instead of the session-wide corpus setting (64 near-empty
    # reduce tasks per join made each tiny round cost like a corpus scan;
    # at web scale `und` is huge and this keeps the session value)
    with loop_width(spark, und0.count() // 200_000 + 8) as loop_parts:
        # the checkpoint re-enters the plan as `Scan ExistingRDD,
        # UnknownPartitioning` — joined as-is, Catalyst would re-shuffle the
        # FULL edge list on `b` inside every round (K x |E| shuffled bytes).
        # A persisted post-repartition cache fixes that: InMemoryTableScan
        # reports the cached plan's partitioning AND ordering, so the
        # per-round neighbor join reads the edge side in place, pre-sorted,
        # and only the O(|V|) label table moves. (A one-time shuffle off the
        # checkpoint buys K shuffle-free scans; same trick is NOT applicable
        # to the label chain, which needs lineage truncation each round.)
        # Measured sf0.1 local[32], 4 interleaved fresh-JVM pairs:
        # wall-neutral (old min 20.7s / new 21.1s) — blocked entity graphs
        # converge in ~2 probed rounds here, so the K x |E| term is tiny at
        # this sf; the change buys the at-scale byte complexity.
        und = (
            und0.repartition(loop_parts, "b")
            .sortWithinPartitions("b")
            .persist()
        )
        und.count()  # materialize the cache with the layout above
        try:
            # label(n) starts as min(n, min(neighbors)). label_ids back it
            # until a later probed round's checkpoint supersedes and frees
            # it: loop storage stays O(1) label tables, not O(rounds)
            labels, label_ids = checkpoint(
                und.groupBy("a")
                .agg(F.min("b").alias("nb_min"))
                .select(
                    F.col("a").alias("node"),
                    F.least(F.col("a"), F.col("nb_min")).alias("label"),
                ),
            )

            for it in range(max_iterations):
                # propagate: candidate label for n = min over neighbor labels
                nb = (
                    und.join(labels, und.b == labels.node)
                    .groupBy("a")
                    .agg(F.min("label").alias("nb_label"))
                )
                propagated = (
                    labels.join(nb, labels.node == nb.a, "left")
                    .select(
                        "node",
                        F.col("label").alias("old_label"),
                        F.least(
                            F.col("label"),
                            F.coalesce(F.col("nb_label"), F.col("label")),
                        ).alias("label"),
                    )
                )
                # pointer jumping: label(n) <- min(label(n), label(label(n))).
                # Neighbor propagation alone needs O(diameter) rounds (a chain
                # of length d takes d rounds); the jump halves the pointer
                # depth each round, giving O(log d) total — the property that
                # makes union-find viable on web-scale graphs with long
                # equivalence chains.
                parents = propagated.select(
                    F.col("node").alias("p_node"), F.col("label").alias("p_label")
                )
                new_labels = propagated.join(
                    parents, propagated.label == parents.p_node, "left"
                ).select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                    ).alias("label"),
                    # fixpoint flag computed IN the checkpointed plan, so the
                    # change probe below reads materialized rows instead of
                    # re-running the round's joins as a second full job
                    (
                        F.least(
                            F.col("label"),
                            F.coalesce(F.col("p_label"), F.col("label")),
                        )
                        != F.col("old_label")
                    ).alias("chg"),
                )
                # probe at it = 0, k, 2k...: round 0 catches the (common)
                # graphs already converged by the min-of-neighbors init —
                # cliques/stars — after ONE round; deep chains amortize the
                # probes at 1/k per round thereafter
                probe = it % CHECKPOINT_EVERY == 0 or it == max_iterations - 1
                if probe:
                    # eager checkpoint materializes the fused rounds; the probe
                    # then reads cached rows. chg reflects only the LAST
                    # round's movement, which is exactly the fixpoint test.
                    new_labels, new_ids = checkpoint(new_labels)
                    # the previous label checkpoint is now superseded
                    unpersist_rdds(spark, label_ids)
                    label_ids = new_ids
                labels = new_labels.drop("chg")
                if probe and new_labels.filter(F.col("chg")).limit(1).count() == 0:
                    break
        finally:
            # the returned labels are always backed by an eager (materialized)
            # checkpoint — the edge list is no longer reachable from any plan
            und.unpersist()
            unpersist_rdds(spark, und0_ids)
    return labels.select(
        _strip_key(F.col("node")).alias("entity"),
        _strip_key(F.col("label")).alias("canonical"),
    )


def canonical_mapping(
    all_entities: DataFrame, edges: DataFrame, entity_col: str = "entity"
) -> DataFrame:
    """(entity, canonical) covering every entity: linked components get
    their component min; isolated entities map to themselves."""
    comp = connected_components(edges)
    return (
        all_entities.select(F.col(entity_col).alias("entity"))
        .distinct()
        .join(comp, "entity", "left")
        .select(
            "entity", F.coalesce("canonical", F.col("entity")).alias("canonical")
        )
    )


def merge_components(mapping: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental union-find: fold a batch of NEW equivalence edges into
    an existing (entity, canonical) mapping without re-running the loop
    over historical edges — the steady-state ingest shape (per-batch cost
    O(batch + touched components), never O(history); the union-find
    analog of the dedup band-index probe and the ledger snapshot diff).

    Method: project each new edge through the mapping (endpoint -> its
    canonical if known, else itself), drop self-edges, run the pointer-
    jumping loop ONLY on that projected delta graph, then relabel.
    Correctness rests on the representative invariant: a component's
    canonical IS its IRI-preferring minimum, so the min over a merged
    set of {old canonicals, new entities} equals the global minimum the
    batch recompute would pick — incremental == batch, bit for bit
    (asserted by the kg_incremental_clusters driver oracle and the
    equivalence property test)."""
    m_src = mapping.select(
        F.col("entity").alias("src"), F.col("canonical").alias("src_can")
    )
    m_dst = mapping.select(
        F.col("entity").alias("dst"), F.col("canonical").alias("dst_can")
    )
    projected = (
        new_edges.join(m_src, "src", "left")
        .join(m_dst, "dst", "left")
        .select(
            F.coalesce("src_can", F.col("src")).alias("src"),
            F.coalesce("dst_can", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    delta = connected_components(projected)
    relabel = delta.select(
        F.col("entity").alias("old_can"), F.col("canonical").alias("new_can")
    )
    updated_old = (
        mapping.join(relabel, mapping.canonical == relabel.old_can, "left")
        .select(
            "entity",
            F.coalesce("new_can", F.col("canonical")).alias("canonical"),
        )
    )
    new_entities = (
        new_edges.select(F.col("src").alias("entity"))
        .union(new_edges.select(F.col("dst").alias("entity")))
        .distinct()
        .join(mapping.select("entity"), "entity", "left_anti")
    )
    new_rows = (
        new_entities.join(
            delta.withColumnRenamed("canonical", "new_can"), "entity", "left"
        )
        .select(
            "entity", F.coalesce("new_can", F.col("entity")).alias("canonical")
        )
    )
    return updated_old.unionByName(new_rows)
