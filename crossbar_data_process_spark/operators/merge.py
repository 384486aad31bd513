"""Multi-source outer merge with per-column coalescing — the signature
operator of the reference (SURVEY.md §2.3 J1/J2).

The reference chains up to 6 per-source pandas outer merges on a composite
key and then reconciles the ``_x``/``_y`` column pairs with hand-written
lambdas (ppi.py:405-452; drug.py:1040-1165; disease.py:1207-1323). Here a
merge is declared once as (key, [CoalesceSpec...]) and folded left-to-right
across any number of sources; the whole chain is one Catalyst plan, so the
optimizer can reorder/broadcast and AQE splits skewed keys.

Scale note: each added source costs two shuffles (measured: 2 x 5 for
``dti_edges``' 6 sources). A full outer join's key comes out as
``coalesce(l.k, r.k)``, which is not hash-partitioned on the key, so the
next sort-merge join re-shuffles both sides. For repeated runs over stable
silver tables, bucketing those tables on the merge key spares the exchanges
on the bucketed inputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CoalesceSpec:
    """How to reconcile one property column across two merged sources.

    strategy:
      - ``first_non_null``: left wins if present (reference X7, ppi.py:434)
      - ``array_union``: order-preserving union of array columns with
        first-occurrence dedup (reference X4 ``merge_source_column``,
        ppi.py:414-428 — ``dict.fromkeys`` semantics = ``array_distinct``
        over concat, which keeps first occurrence)
      - ``nullify_conflict``: NULL when both present and different, else the
        non-null one (reference tf_effect reconciliation, tf_gen.py:289-312)
      - ``max`` / ``min``: numeric reconciliation
    """

    column: str
    strategy: str = "first_non_null"

    def combine(self, left: Column, right: Column) -> Column:
        if self.strategy == "first_non_null":
            return F.coalesce(left, right)
        if self.strategy == "array_union":
            return F.when(
                left.isNull() & right.isNull(), F.lit(None)
            ).otherwise(
                F.array_distinct(
                    F.concat(
                        F.coalesce(left, F.array()), F.coalesce(right, F.array())
                    )
                )
            )
        if self.strategy == "nullify_conflict":
            return F.when(left.isNull(), right).when(right.isNull(), left).when(
                left == right, left
            )  # both present & different -> NULL (implicit otherwise)
        if self.strategy == "max":
            return F.greatest(left, right)
        if self.strategy == "min":
            return F.least(left, right)
        if self.strategy == "effect_resolve":
            # X5 as a two-column reconciler (reference applies
            # find_conflicting_tf_effects to the joined column pair,
            # tf_gen.py:297,310): equal → it; one null → the other;
            # {Unknown, X} → X; {Activation, Repression} → NULL
            unknown = F.lit("Unknown")
            return (
                F.when(left.isNull(), right)
                .when(right.isNull(), left)
                .when(left == right, left)
                .when(left == unknown, right)
                .when(right == unknown, left)
            )  # two distinct non-Unknown -> NULL (implicit otherwise)
        raise ValueError(f"unknown strategy {self.strategy!r}")


def outer_merge_pair(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    specs: list[CoalesceSpec],
    how: str = "full_outer",
) -> DataFrame:
    """Merge two per-source tables on a composite key; shared non-key columns
    are reconciled per ``specs`` (default first_non_null); columns unique to
    one side pass through (outer-join NULL fill)."""
    spec_by_col = {s.column: s for s in specs}
    lcols = set(left.columns) - set(on)
    rcols = set(right.columns) - set(on)
    shared = lcols & rcols

    l = left.alias("l")
    r = right.alias("r")
    joined = l.join(r, on=on, how=how)

    out_cols: list[Column] = [F.col(k) for k in on]
    # preserve left-to-right column order like the reference's merge output
    for c in left.columns:
        if c in on:
            continue
        if c in shared:
            spec = spec_by_col.get(c, CoalesceSpec(c))
            out_cols.append(spec.combine(F.col(f"l.{c}"), F.col(f"r.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"l.{c}").alias(c))
    for c in right.columns:
        if c in on or c in shared:
            continue
        out_cols.append(F.col(f"r.{c}").alias(c))
    return joined.select(*out_cols)


def outer_merge(
    sources: list[DataFrame],
    on: list[str],
    specs: list[CoalesceSpec] | None = None,
    how: str = "full_outer",
) -> DataFrame:
    """Left-to-right fold of :func:`outer_merge_pair` over N sources —
    the reference's merge chains (drug.py:1054-1159 six-way DTI merge;
    disease.py:1225-1291 seven-way gene–disease merge) as one declaration.
    Left-to-right order matters for ``first_non_null`` precedence, matching
    the reference's source-priority semantics."""
    specs = specs or []
    return reduce(lambda acc, nxt: outer_merge_pair(acc, nxt, on, specs, how), sources)
