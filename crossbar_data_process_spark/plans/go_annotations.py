"""GO annotation adapter (reference node_data/go.py): evidence-code
blacklist, qualifier whitelist, aspect-derived edge labels, and the
ontology-ancestor edge labeling — the reference's densest F9 label
derivation, as pure Column expressions.

Reference semantics:
- protein→GO edges (go.py:425-451): keep SwissProt proteins (P4 semi-join),
  drop blacklisted evidence codes (P9, default ["IEA"], go.py:435), keep
  whitelisted qualifiers, and build the edge label
  ``protein_<qualifier>_<aspect node label>`` with space→underscore
  (go.py:439-441).
- GO→GO ancestor edges (go.py:465-476): label
  ``<child aspect>_<relation>_<parent aspect>``.
- domain→GO (go.py:487-510): aspect → fixed relation map
  {P: involved_in, F: enables, C: located_in}.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.ids import add_curie_prefix
from crossbar_data_process_spark.operators.filters import (
    blacklist_filter,
    membership_filter,
    semi_filter,
)

# aspect code -> GO node label (reference aspect_to_node_label_dict)
ASPECT_NODE_LABEL = {
    "P": "biological process",
    "F": "molecular function",
    "C": "cellular component",
}

DOMAIN_FUNCTION_LABEL = {"P": "involved_in", "F": "enables", "C": "located_in"}


def _aspect_label(aspect: Column) -> Column:
    m = F.create_map(
        *[x for k, v in ASPECT_NODE_LABEL.items() for x in (F.lit(k), F.lit(v))]
    )
    return m[aspect]


def _underscored(c: Column) -> Column:
    return F.regexp_replace(c, " ", "_")


def protein_go_edges(
    annotations: DataFrame,
    aspects: DataFrame,
    swissprot: DataFrame,
    evidence_blacklist: list[str] = ["IEA"],
    qualifier_whitelist: list[str] | None = None,
) -> DataFrame:
    """``annotations``: (uniprot, go_id, qualifier, evidence_code,
    reference); ``aspects``: (go_id, aspect ∈ {P,F,C}). Returns
    (src, dst, label, reference) edges."""
    df = semi_filter(annotations, swissprot, [("uniprot", "uniprot")])
    df = blacklist_filter(df, "evidence_code", evidence_blacklist)
    if qualifier_whitelist:
        df = membership_filter(df, "qualifier", qualifier_whitelist)
    # membership in the ontology = inner join on the aspect table
    # (go.py:435 "in self.go_ontology.aspect.keys()")
    df = df.join(F.broadcast(aspects), "go_id", "inner")
    label = F.concat_ws(
        "_",
        F.lit("protein"),
        _underscored(F.col("qualifier")),
        _underscored(_aspect_label(F.col("aspect"))),
    )
    return df.select(
        add_curie_prefix("uniprot", "uniprot").alias("src"),
        add_curie_prefix("go_id", "go").alias("dst"),
        label.alias("label"),
        "reference",
    )


def go_ancestor_edges(
    ancestor_edges: DataFrame, aspects: DataFrame,
    relation_whitelist: list[str] | None = None,
) -> DataFrame:
    """``ancestor_edges``: (child, parent, relation). Label =
    ``<child aspect>_<relation>_<parent aspect>`` (go.py:465-476)."""
    df = ancestor_edges
    if relation_whitelist:
        df = membership_filter(df, "relation", relation_whitelist)
    ca = aspects.select(
        F.col("go_id").alias("child"), F.col("aspect").alias("child_aspect")
    )
    pa = aspects.select(
        F.col("go_id").alias("parent"), F.col("aspect").alias("parent_aspect")
    )
    df = df.join(F.broadcast(ca), "child").join(F.broadcast(pa), "parent")
    label = F.concat_ws(
        "_",
        _underscored(_aspect_label(F.col("child_aspect"))),
        F.col("relation"),
        _underscored(_aspect_label(F.col("parent_aspect"))),
    )
    return df.select(
        add_curie_prefix("child", "go").alias("src"),
        add_curie_prefix("parent", "go").alias("dst"),
        label.alias("label"),
    )


def domain_go_edges(interpro2go: DataFrame, aspects: DataFrame) -> DataFrame:
    """``interpro2go``: (interpro_id, go_id). Relation from the fixed
    aspect map (go.py:487-496)."""
    df = interpro2go.join(F.broadcast(aspects), "go_id", "inner")
    rel = F.create_map(
        *[x for k, v in DOMAIN_FUNCTION_LABEL.items() for x in (F.lit(k), F.lit(v))]
    )[F.col("aspect")]
    label = F.concat_ws(
        "_", F.lit("protein_domain"), rel, _underscored(_aspect_label(F.col("aspect")))
    )
    return df.select(
        add_curie_prefix("interpro_id", "interpro").alias("src"),
        add_curie_prefix("go_id", "go").alias("dst"),
        label.alias("label"),
    )
