"""PPI pipeline — the reference's smallest full multi-source merge
(edge_data/ppi.py), re-expressed Spark-first. This is the canonical
"adapter" shape: per-source normalize → merge → gold edge table.

Reference dataflow (SURVEY §3.1):
  intact_process    ppi.py:97-151   normalize, semi-join swissprot, keep-best
                                    + pubmed union, symmetric dedup
  biogrid_process   ppi.py:153-263  symbol→uniprot mapjoin, same dedup chain
  string_process    ppi.py:266-379  string-id→uniprot mapjoin, score keep-best
  merge_mall        ppi.py:382-484  3-way outer merge + coalescers

Documented divergence from the reference: undirected pairs are
canonicalized to (least, greatest) orientation *before* the cross-source
merge. The reference keeps the per-source first-sorted orientation
(frozenset dedup, ppi.py:142) and then outer-merges on the raw columns, so
the same undirected pair arriving in opposite orientations from two sources
silently fails to merge; canonical orientation makes the merge key
deterministic and orientation-independent (SURVEY §7.2 hard-part d).

Scale: every step is a declarative transform — semi-joins broadcast the
whitelist, mapping joins broadcast the dictionaries, and AQE splits
hub-protein skew. The merge chain shuffles twice per added source on the
canonical pair key: a full outer join's key comes out as a ``coalesce``,
which is not hash-partitioned, so the next join re-shuffles both sides
(``operators/merge.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.ids import split_list
from crossbar_data_process_spark.operators.dedup import (
    canonicalize_undirected,
    keep_best,
)
from crossbar_data_process_spark.operators.filters import semi_filter
from crossbar_data_process_spark.operators.mapping import broadcast_map
from crossbar_data_process_spark.operators.merge import CoalesceSpec, outer_merge

PPI_KEY = ["uniprot_a", "uniprot_b"]


def _dedup_pair_keep_best(
    df: DataFrame, order_by: list, extra_keys: list[str] | None = None
) -> DataFrame:
    """Canonicalize orientation then keep the best row per undirected pair
    (+ optional extra key columns) — the engine form of sort+frozenset dedup
    (ppi.py:135-142)."""
    cdf = canonicalize_undirected(df, "uniprot_a", "uniprot_b", "u", "v")
    best = keep_best(cdf, ["u", "v", *(extra_keys or [])], order_by)
    return (
        best.withColumn("uniprot_a", F.col("u"))
        .withColumn("uniprot_b", F.col("v"))
        .drop("u", "v")
    )


def _directed_group_union(
    df: DataFrame, order_by: list, value_cols: list[str]
) -> DataFrame:
    """The reference's per-*directed*-pair reduction (ppi.py:135-140,
    :248-252): group by (uniprot_a, uniprot_b) exactly as oriented, union
    pubmed ids within the group (set semantics; engine sorts the array for
    determinism where the reference's set order was unspecified), keep the
    best row's scalar columns. Empty union → NULL (the reference's
    ``replace("", np.nan)``)."""
    pubs = df.groupBy("uniprot_a", "uniprot_b").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("pubmed_ids")))
        ).alias("__pubs")
    )
    best = keep_best(df.drop("pubmed_ids"), ["uniprot_a", "uniprot_b"], order_by)
    merged = best.join(pubs, ["uniprot_a", "uniprot_b"])
    return merged.withColumn(
        "pubmed_ids", F.when(F.size("__pubs") > 0, F.col("__pubs"))
    ).drop("__pubs")


def intact_process(intact: DataFrame, swissprot: DataFrame) -> DataFrame:
    """IntAct normalization (ppi.py:97-151): cell-level 'unassigned' pubmed
    nullification (:130 — the whole cell becomes NULL, not token removal),
    swissprot semi-join on both endpoints (:126), per-directed-pair
    keep-best-by-score with pubmed set union (:135-140), then undirected
    dedup keyed on pair+interaction_type keeping the higher-scored
    orientation (:142 frozenset dedup after the score-desc sort)."""
    df = intact.select(
        F.lit("IntAct").alias("source"),
        "uniprot_a",
        "uniprot_b",
        F.when(
            ~F.col("pubmed_id").contains("unassigned"),
            split_list("pubmed_id", ";"),
        ).alias("pubmed_ids"),
        "intact_score",
        "method",
        "interaction_type",
    ).na.drop(subset=["uniprot_a", "uniprot_b"])
    df = semi_filter(df, swissprot, [("uniprot_a", "uniprot")])
    df = semi_filter(df, swissprot, [("uniprot_b", "uniprot")])

    reduced = _directed_group_union(
        df,
        [F.desc("intact_score"), F.asc("method"), F.asc("interaction_type")],
        ["source", "intact_score", "method", "interaction_type"],
    )
    return _dedup_pair_keep_best(
        reduced,
        [F.desc("intact_score"), F.asc("method")],
        extra_keys=["interaction_type"],
    )


def biogrid_process(
    biogrid: DataFrame, symbol_map: DataFrame, swissprot: DataFrame
) -> DataFrame:
    """BioGRID normalization (ppi.py:153-263): upper-case symbols (:201-202),
    (symbol, taxon)→UniProt broadcast mapjoin with ambiguous-symbol drop
    (:209-226, :238), swissprot semi-join (:242), per-pair pmid union +
    keep-first (:249-252), symmetric dedup on pair+method (:254)."""
    df = biogrid.select(
        F.lit("BioGRID").alias("source"),
        F.upper("partner_a").alias("sym_a"),
        F.upper("partner_b").alias("sym_b"),
        "tax_a",
        "tax_b",
        F.coalesce(split_list("pmid", ";"), F.array()).alias("pubmed_ids"),
        F.col("experimental_system").alias("method"),
    )
    df = broadcast_map(
        df,
        symbol_map,
        [("sym_a", "symbol"), ("tax_a", "tax")],
        "uniprot",
        "uniprot_a",
        how="inner",
        drop_ambiguous=True,
    )
    df = broadcast_map(
        df,
        symbol_map,
        [("sym_b", "symbol"), ("tax_b", "tax")],
        "uniprot",
        "uniprot_b",
        how="inner",
        drop_ambiguous=True,
    )
    df = semi_filter(df, swissprot, [("uniprot_a", "uniprot")])
    df = semi_filter(df, swissprot, [("uniprot_b", "uniprot")])

    # reference keeps the group's first row in *input order* (:248-252) —
    # order-dependent; the engine pins an explicit deterministic sort
    reduced = _directed_group_union(
        df.select("source", "uniprot_a", "uniprot_b", "pubmed_ids", "method"),
        [F.asc("method")],
        ["source", "method"],
    )
    return _dedup_pair_keep_best(reduced, [F.asc("method")], extra_keys=["method"])


def string_process(
    string: DataFrame, string_map: DataFrame, swissprot: DataFrame
) -> DataFrame:
    """STRING normalization (ppi.py:266-379): STRING-id→UniProt mapjoin
    (:335-350), keep-max combined_score per directed pair (:368-369).

    Documented divergence: the reference's frozenset dedup keys on
    pair+score (:370), so reciprocal orientations with *different* scores
    both survive; the engine keeps only the higher-scored orientation per
    undirected pair (FIXTURES.md F6: "orientation kept must be the
    higher-scored one"), which also keeps the downstream merge key unique."""
    df = string.select(
        F.lit("STRING").alias("source"),
        "protein_a",
        "protein_b",
        F.col("combined_score").alias("string_combined_score"),
        "physical_combined_score",
    )
    df = broadcast_map(
        df, string_map, [("protein_a", "string_id")], "uniprot", "uniprot_a",
        how="inner",
    )
    df = broadcast_map(
        df, string_map, [("protein_b", "string_id")], "uniprot", "uniprot_b",
        how="inner",
    )
    df = semi_filter(df, swissprot, [("uniprot_a", "uniprot")])
    df = semi_filter(df, swissprot, [("uniprot_b", "uniprot")])
    out = df.select(
        "source", "uniprot_a", "uniprot_b", "string_combined_score",
        "physical_combined_score",
    )
    return _dedup_pair_keep_best(
        out,
        [F.desc("string_combined_score"), F.desc("physical_combined_score")],
    )


def merge_all(
    intact: DataFrame, biogrid: DataFrame, string: DataFrame
) -> DataFrame:
    """merge_mall (ppi.py:382-484): 3-way full-outer merge on the canonical
    pair with source/pubmed union (X4) and method first-non-null (X7).
    Sources carry their per-source score columns through NULL-filled."""
    srcs = [
        df.withColumn("sources", F.array("source")).drop("source")
        for df in (intact, biogrid, string)
    ]
    return outer_merge(
        srcs,
        on=PPI_KEY,
        specs=[
            CoalesceSpec("sources", "array_union"),
            CoalesceSpec("pubmed_ids", "array_union"),
            CoalesceSpec("method", "first_non_null"),
        ],
    )
