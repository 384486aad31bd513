"""Multi-hop KG pattern queries (motifs) — the composition CROssBAR's KG
serves: the reference emits the constituent edge tables
(drug→target at node_data/drug.py:1222-1251, gene→disease at
node_data/disease.py:1423-1466) and leaves traversal to the graph DB; the
engine provides the 2-hop join as a named, scale-shaped operator so the
same question (which diseases does a drug reach through its targets?) runs
as one Catalyst plan over the gold edge tables.

Plan shape (designed, not incidental) — ONE hop-fold builder
(:func:`_hop_fold`) serves ``two_hop_paths``, ``chain_frontier`` and
``chain_paths``, batch frontiers and single-source frontiers alike:
- every hop is an equi-join keyed on the INTERMEDIATE node (no cartesian
  anywhere);
- every operator keyed on the source — each between-hop fold
  groupBy(src, node), the final groupBy(src, dst) and the top-k window's
  PARTITION BY src — sits on an explicit ``repartition(src)``:
  HashPartitioning(src) satisfies all three (partitioning exprs ⊆
  grouping keys). A broadcast hop join keeps its streamed side's
  partitioning, and Spark drops a repartition whose child is already
  partitioned the same way, so over broadcastable hops the first
  repartition — right after the first hop join when folding, before the
  final aggregation otherwise — is the plan's ONLY shuffle, reused by
  every later fold, hop join, the aggregation and the window (pinned in
  tests/test_kg_motifs.py: one exchange, four jobs for a 3-hop chain).
  A hop too large to broadcast shuffles on its join key, and the next
  source-keyed operator shuffles back: never more exchanges than the
  fold-per-hop shape this replaced (also pinned).
- folds run only BETWEEN hops. Folding ``edges[0]`` bounds nothing
  (path counts distribute over the join, so the fold after the first
  join collapses the same duplicates), and a fold after the last hop
  would group on the same key as the final aggregation.
- skew trade: partitioning on the source alone is more skew-prone than
  on (src, node) — a hub source (a promiscuous drug) keeps all of its
  frontier in one task through every later hop, and the folds no longer
  combine map-side before their exchange; only a shuffled hop join gets
  AQE's skew split. A single-source frontier is one partition either
  way. In return the exchange is paid once instead of once per fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _fold_frontier(cur: DataFrame, scored: bool) -> DataFrame:
    """Collapse the running path frame to one row per (src, frontier-node):
    path counts sum, the running score product keeps its max. This is the
    dynamic-programming step that makes N-hop state O(reachable pairs)
    instead of O(paths)."""
    aggs = [F.sum("__n").cast("long").alias("__n")]
    if scored:
        aggs.append(F.max("__p").alias("__p"))
    return cur.repartition("__s").groupBy("__s", "__m").agg(*aggs)


def _hop_fold(
    hops: list[tuple[DataFrame, str, str, str | None]], fold: bool
) -> DataFrame:
    """The running frame (``__s``, ``__m``, ``__n`` [, ``__p``]) after
    joining every hop: one row per path, or with ``fold`` folded to one
    row per (src, node) between hops — never after the last one (see the
    module docstring for the plan shape). Each hop is (frame, from-node
    column, to-node column, score column or None); all scored or none."""
    (first, a, b, s), *rest = hops
    scored = s is not None
    cur = first.select(
        F.col(a).alias("__s"),
        F.col(b).alias("__m"),
        F.lit(1).cast("long").alias("__n"),
        *([F.col(s).alias("__p")] if scored else []),
    )
    for i, (hop, a, b, s) in enumerate(rest):
        nxt = hop.select(
            F.col(a).alias("__m2"),
            F.col(b).alias("__d"),
            *([F.col(s).alias("__q")] if scored else []),
        )
        cur = cur.join(nxt, F.col("__m") == F.col("__m2")).select(
            "__s",
            F.col("__d").alias("__m"),
            "__n",
            *([(F.col("__p") * F.col("__q")).alias("__p")] if scored else []),
        )
        if fold and i < len(rest) - 1:
            cur = _fold_frontier(cur, scored)
    return cur


def _endpoint_paths(
    cur: DataFrame, src: str, dst: str, scored: bool, k: int | None
) -> DataFrame:
    """(src, dst, n_paths [, best_score]) per endpoint pair of a
    :func:`_hop_fold` frame, with ``k`` the top-k destinations per source
    by (best_score desc, dst asc) — (n_paths desc, dst asc) unscored — as
    ``rnk``. Both reuse the frame's source-key partitioning."""
    aggs = [F.sum("__n").cast("long").alias("n_paths")]
    if scored:
        aggs.append(F.max("__p").alias("best_score"))
    paths = (
        cur.repartition("__s")
        .groupBy(F.col("__s").alias(src), F.col("__m").alias(dst))
        .agg(*aggs)
    )
    if k is None:
        return paths
    order = (
        [F.desc("best_score"), F.asc(dst)]
        if scored
        else [F.desc("n_paths"), F.asc(dst)]
    )
    w = Window.partitionBy(src).orderBy(*order)
    return paths.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).filter(F.col("rnk") <= k)


def two_hop_paths(
    edges_ab: DataFrame,
    edges_bc: DataFrame,
    src: str = "src",
    mid: str = "mid",
    dst: str = "dst",
    score_ab: str | None = None,
    score_bc: str | None = None,
    k: int | None = None,
) -> DataFrame:
    """A→B→C path aggregation with optional per-source top-k.

    ``edges_ab``: (src, mid [, score_ab]); ``edges_bc``: (mid, dst
    [, score_bc]). Returns one row per (src, dst) pair with
    ``n_paths`` — the number of A→B→C paths counted WITH edge
    multiplicity: duplicate (src, mid) or (mid, dst) edge rows each
    contribute a path, so feed deduplicated edge tables (the gold tables
    are) if "distinct intermediate witnesses" is the intended reading —
    and, when both
    score columns are given, ``best_score`` = max over paths of
    score_ab·score_bc (max of per-path products — no float-sum
    order-dependence, so the result is bit-stable across engines). With
    ``k``, keeps the top-k destinations per source by (best_score desc,
    dst asc) as ``rnk``.
    """
    scored = score_ab is not None and score_bc is not None
    cur = _hop_fold(
        [
            (edges_ab, src, mid, score_ab if scored else None),
            (edges_bc, mid, dst, score_bc if scored else None),
        ],
        fold=False,
    )
    return _endpoint_paths(cur, src, dst, scored, k)


def chain_frontier(
    edges: list[DataFrame],
    src: str = "src",
    dst: str = "dst",
    score: str | None = None,
    aggregate_hops: bool = False,
) -> DataFrame:
    """The running frame after folding all hops, BEFORE the final
    per-(src, dst) aggregation: columns (``src``, ``node``, ``n_paths``
    [, ``best_score``]). With ``aggregate_hops=False`` there is one row per
    surviving PATH (n_paths is 1 per row); with ``True`` one row per
    reachable (src, node) pair — the observable that
    ``tests/test_kg_motifs.py`` uses to prove the growth cap."""
    assert len(edges) >= 2
    cur = _hop_fold([(e, src, dst, score) for e in edges], aggregate_hops)
    if aggregate_hops:
        cur = _fold_frontier(cur, score is not None)
    return cur.select(
        F.col("__s").alias(src),
        F.col("__m").alias("node"),
        F.col("__n").alias("n_paths"),
        *([F.col("__p").alias("best_score")] if score else []),
    )


def chain_paths(
    edges: list[DataFrame],
    src: str = "src",
    dst: str = "dst",
    score: str | None = None,
    k: int | None = None,
    aggregate_hops: bool = False,
) -> DataFrame:
    """N-hop generalization of :func:`two_hop_paths`: fold of hop joins,
    each keyed on its intermediate node. Every frame in ``edges`` has
    (``src``, ``dst`` [, ``score``]); hop i's ``dst`` joins hop i+1's
    ``src``. Returns (src, dst, n_paths [, best_score]) per endpoint pair,
    where best_score = max over full paths of the product of hop scores
    (products only — no float-sum order dependence). With ``k``, top-k
    destinations per source.

    Scale: hop i's join shuffles on the hop-i intermediate key unless a
    side is broadcast (bucketed silver edge tables make each
    shuffle-free). By default the running frame carries one row per
    PATH, which explodes on hub-heavy graphs (fan-out f over h hops ⇒
    f^h rows). ``aggregate_hops=True`` bounds state to one row per
    reachable (src, frontier-node) pair by folding between hops — path
    counts SUM (exact: the matrix-power recurrence) and the running
    product keeps its MAX. The max-product fold is exact only for
    NON-NEGATIVE scores (a negative hop score could flip the order of a
    pruned prefix); affinities/associations are non-negative. The folds
    reuse the source-key exchange, so bounded state costs no extra
    shuffle over broadcast hops — at 100 TB on a hub-heavy KG that trade
    is mandatory, not optional. The 2-hop named form needs no cap.
    """
    cur = _hop_fold([(e, src, dst, score) for e in edges], aggregate_hops)
    return _endpoint_paths(cur, src, dst, score is not None, k)


def drug_target_disease_paths(
    dti_edges: DataFrame,
    gda_edges: DataFrame,
    k: int = 3,
) -> DataFrame:
    """The named CROssBAR composition: drug→target (DTI gold,
    plans/dti.py) ⋈ target→disease (gene–disease gold,
    plans/gene_disease.py), scored by affinity·association, top-``k``
    diseases per drug.

    ``dti_edges``: (drug, target, affinity); ``gda_edges``:
    (target, disease, assoc).
    """
    return two_hop_paths(
        dti_edges.select(
            F.col("drug").alias("src"),
            F.col("target").alias("mid"),
            F.col("affinity").alias("s1"),
        ),
        gda_edges.select(
            F.col("target").alias("mid"),
            F.col("disease").alias("dst"),
            F.col("assoc").alias("s2"),
        ),
        score_ab="s1",
        score_bc="s2",
        k=k,
    ).select(
        F.col("src").alias("drug"),
        F.col("dst").alias("disease"),
        "n_paths",
        "best_score",
        "rnk",
    )
