"""TF–gene regulation adapter (reference edge_data/tf_gen.py): CollecTRI /
DoRothEA / TRRUST merge with conflict-aware effect reconciliation.

Reference dataflow:
- CollecTRI normalization (tf_gen.py:195-240): ``COMPLEX:``-TF rows fan out
  one row per member (X9 explode), uniprot→entrez mapping (J4; the
  reference's driver dict becomes a broadcast join), pubmed ';'→list,
  effect int → label via {1: Activation, -1: Repression, 0: Unknown}
  (tf_gen.py:68,176), then per-(tf, target) X4 pubmed union + X5 effect
  resolution, dropping unresolvable conflicts.
- Merge (tf_gen.py:280-315): dorothea ⊕ collectri ⊕ trrust with source/
  pubmed X4 unions and tf_effect X5 *pair* reconciliation
  (``CoalesceSpec("tf_effect", "effect_resolve")``), dropping NULL effects
  after each step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.ids import split_list
from crossbar_data_process_spark.operators.aggregates import tf_effect_resolve
from crossbar_data_process_spark.operators.mapping import broadcast_map
from crossbar_data_process_spark.operators.merge import CoalesceSpec, outer_merge

TF_KEY = ["tf", "target"]

EFFECT_LABELS = {1: "Activation", -1: "Repression", 0: "Unknown"}


def effect_label(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    m = F.create_map(
        *[x for k, v in EFFECT_LABELS.items() for x in (F.lit(k), F.lit(v))]
    )
    return m[c]


def collectri_process(
    interactions: DataFrame, uniprot_to_entrez: DataFrame
) -> DataFrame:
    """``interactions``: (tf string — possibly 'COMPLEX:P1_P2', target
    string, pubmed ';'-list string, effect int). Returns the normalized
    per-pair table with resolved effects."""
    # X9: fan COMPLEX TFs out to members; plain TFs are singleton arrays
    members = F.when(
        F.col("tf").startswith("COMPLEX:"),
        F.split(F.element_at(F.split("tf", ":"), 2), "_"),
    ).otherwise(F.array(F.col("tf")))
    fanned = interactions.select(
        F.explode(members).alias("tf_uniprot"),
        F.col("target").alias("target_uniprot"),
        F.when(
            F.col("pubmed").isNotNull(), split_list("pubmed", ";")
        ).alias("pubmed_ids"),
        effect_label("effect").alias("tf_effect"),
    )
    # J4: uniprot -> entrez on both endpoints; unmapped rows drop (inner),
    # matching the reference's dict .get() guards (tf_gen.py:202,213)
    mapped = broadcast_map(
        fanned, uniprot_to_entrez, [("tf_uniprot", "uniprot")], "entrez", "tf",
        how="inner",
    )
    mapped = broadcast_map(
        mapped, uniprot_to_entrez, [("target_uniprot", "uniprot")], "entrez",
        "target", how="inner",
    )
    # per-pair X4 pubmed union + X5 effect resolution (tf_gen.py:230-236)
    out = mapped.groupBy("tf", "target").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce(F.col("pubmed_ids"), F.array()))
                )
            )
        ).alias("pubmed_ids"),
        tf_effect_resolve("tf_effect").alias("tf_effect"),
    )
    return (
        out.na.drop(subset=["tf_effect"])
        .withColumn(
            "pubmed_ids",
            F.when(F.size("pubmed_ids") > 0, F.col("pubmed_ids")),
        )
        .withColumn("source", F.array(F.lit("CollecTRI")))
    )


def merge_tf_gen(
    dorothea: DataFrame, collectri: DataFrame, trrust: DataFrame | None = None
) -> DataFrame:
    """dorothea ⊕ collectri (⊕ trrust) with the reference's reconcilers;
    rows whose effects conflict to NULL are dropped after each step
    (tf_gen.py:299,312)."""
    specs = [
        CoalesceSpec("source", "array_union"),
        CoalesceSpec("pubmed_ids", "array_union"),
        CoalesceSpec("tf_effect", "effect_resolve"),
    ]
    merged = outer_merge([dorothea, collectri], on=TF_KEY, specs=specs)
    merged = merged.na.drop(subset=["tf_effect"])
    if trrust is not None:
        merged = outer_merge([merged, trrust], on=TF_KEY, specs=specs)
        merged = merged.na.drop(subset=["tf_effect"])
    return merged
