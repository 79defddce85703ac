"""Exact deduplication and connected components.

No counterpart in the reference (it validates, never dedups). Scale stance:

  * exact                — hash-groupBy on a normalized fingerprint: one
                           shuffle on a 16-byte key, map-side partial agg.
  * connected components — (node, component) clusters from id pairs by
                           min-label propagation with pointer jumping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.textstats import fingerprint


# ------------------------------------------------------------------- exact

def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) texts:
    (fingerprint, keeper_id, dup_count) for groups with >1 member."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per normalized-text group. min_by avoids a
    window: single aggregate, no per-row shuffle beyond the groupBy."""
    keepers = (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("__fp")
    )
    return df.join(keepers, on=id_col, how="left_semi")


# ----------------------------------------------------- connected components

def connected_components(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Near-dup CLUSTERS from candidate/verified pairs: (node, component)
    where component = the minimum node id reachable — the piece between
    pair generation and keeper selection (keep ``node == component``, drop
    the rest), standard in large-scale dedup pipelines.

    Algorithm: iterative min-label propagation + POINTER JUMPING. Each round
    (a) every node takes the min of its own and its neighbors' labels (one
    join + one groupBy), then (b) chases its label one indirection
    (comp := label(comp)) — path halving, so convergence is O(log diameter)
    rounds, not O(diameter). Each round ends in ``localCheckpoint`` to
    TRUNCATE plan lineage — without it Catalyst re-analyzes an
    exponentially growing tree and the driver OOMs around round ~15 (the
    standard iterative-DataFrame trap; a reliable checkpoint dir replaces
    localCheckpoint when executor loss matters).

    Checkpoints are LAZY (``eager=False``): each round already runs one
    mandatory action (the convergence count), which materializes that
    round's checkpoint as a side effect — an eager checkpoint would pay a
    second job per round purely for scheduling overhead (half the wall on
    small inputs, where per-job latency dominates).
    """
    fwd = pairs.select(F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst"))
    rev = pairs.select(F.col(id_col_b).alias("src"), F.col(id_col_a).alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        ptr = stepped.select(
            F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
        )
        new_labels = (
            stepped.join(ptr, stepped.comp == ptr.pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("pcomp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", "comp")
