"""DTI (drug–target interaction) six-way merge — the reference's largest
merge chain (node_data/drug.py:1040-1165, ``merge_all_dtis``), re-expressed
as one ``outer_merge`` fold.

Reference semantics per merge step, all on key (drugbank_id, uniprot_id):
- ``references``: X3 ``aggregate_column_level`` (drug.py:1360-1372) —
  union of '|'-split tokens. The reference used an unordered ``set``;
  the engine keeps native arrays with order-preserving first-occurrence
  dedup (X4 semantics) — a documented, deterministic refinement.
- ``source``: X4 ``merge_source_column`` (drug.py:1389-1398) —
  order-preserving union.
- ``mechanism_of_action_type``: first-non-null (X7), lower-cased at the
  first (drugbank+chembl) step (drug.py:1062-1064); the engine normalizes
  case once at source-normalization time instead — same fixpoint.
- ``pchembl``, ``activity_type``: first-non-null (drug.py:1089-1096).
- per-source scalar columns (dgidb_score, stitch_combined_score,
  confidence_score, ...) pass through NULL-filled.

Scale: the fold is one Catalyst plan, but each added source costs two
shuffles (2 x 5 for the six sources): a full outer join's key comes out as
``coalesce(l.k, r.k)``, which is not hash-partitioned, so the next join
re-shuffles both sides (``operators/merge.py``). Skewed hub targets
(promiscuous kinases) are AQE-split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.merge import CoalesceSpec, outer_merge

DTI_KEY = ["drugbank_id", "uniprot_id"]

DTI_SPECS = [
    CoalesceSpec("references", "array_union"),
    CoalesceSpec("source", "array_union"),
    CoalesceSpec("mechanism_of_action_type", "first_non_null"),
    CoalesceSpec("pchembl", "first_non_null"),
    CoalesceSpec("activity_type", "first_non_null"),
]

# the reference's fixed left-to-right source priority (drug.py:1054-1159)
DTI_SOURCE_ORDER = ["drugbank", "chembl", "pharos", "dgidb", "stitch", "kegg"]


def normalize_dti_source(df: DataFrame, source_name: str) -> DataFrame:
    """Source-normalization shared by every DTI table: tag provenance as a
    singleton array (drug.py per-source ``source`` literal columns), decode
    '|'-joined references into native arrays at the ingest boundary
    (SURVEY §7.0), and lower-case mechanism_of_action_type once."""
    out = df.withColumn("source", F.array(F.lit(source_name)))
    if "references" in df.columns:
        out = out.withColumn(
            "references",
            F.when(
                F.col("references").isNotNull(), F.split("references", "\\|")
            ),
        )
    if "mechanism_of_action_type" in df.columns:
        out = out.withColumn(
            "mechanism_of_action_type", F.lower("mechanism_of_action_type")
        )
    return out


def merge_all_dtis(sources: dict[str, DataFrame]) -> DataFrame:
    """Fold the per-source DTI tables in the reference's priority order.
    ``sources`` maps source name → normalized DataFrame keyed by DTI_KEY.
    Missing sources are skipped (the reference gates each on edge_types,
    drug.py:122-165)."""
    ordered = [
        normalize_dti_source(sources[name], name)
        for name in DTI_SOURCE_ORDER
        if name in sources
    ]
    return outer_merge(ordered, on=DTI_KEY, specs=DTI_SPECS)
