"""IVF (inverted-file) approximate nearest neighbor — the data-ADAPTIVE
coarse quantizer complementing the data-oblivious hyperplane LSH in
``operators/similarity.py`` (engine extension; charter: "an IVF or
LSH-bucketed variant as the scale path").

Design:
- ``ivf_fit``: spherical k-means (Lloyd's, fixed iterations) over
  unit-normalized vectors. Centroids live on the DRIVER between iterations
  — a deliberate, bounded exception to the no-collect rule: nlist is a
  hyperparameter (64–65536 in practice), not data-sized, and every
  per-iteration job is one corpus projection (assignment is a pure
  expression against a literal centroid matrix — no join, no cross join)
  plus one ``groupBy(cluster)`` shuffle of dim partial means. This is the
  same driver-resident-centroid design as Spark MLlib's KMeans. At 100 TB
  fit on a sample (``sample_fraction``), then assign the full corpus in
  one pass.
- ``ivf_topk``: queries probe their ``nprobe`` nearest centroids; the
  candidate join is an equi-join on the cluster id (corpus bucketed once,
  probe list broadcast), exact cosine only within probed lists — corpus
  touched ≈ nprobe/nlist instead of 1. The same argmax expression serves
  corpus assignment and query probing, so Spark and any re-run agree
  bit-for-bit (seeding is md5-ordered — deterministic, no RNG state).

Why both IVF and LSH: hyperplane buckets are fixed by the plane series
regardless of the data; IVF lists follow the data's cluster structure, so
for clustered embedding corpora (the common case for model embeddings)
the same candidate budget buys higher recall. Recall is measured in
``tests/test_ivf_ann.py`` against the brute-force ground truth.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crossbar_data_process_spark.graph.pregel import local_frame
from crossbar_data_process_spark.operators.materialize import materialize
from crossbar_data_process_spark.operators.similarity import cosine, dot, norm
from crossbar_data_process_spark.operators.topk import top_k_per_group
from crossbar_data_process_spark.sources.writers import (
    _fs_and_path,
    _hadoop_read_text,
    _hadoop_write_text,
    _partition_value_int,
)


def _sql_double(x: float) -> str:
    """One double as a parseable SQL literal: ``repr`` (shortest
    round-trip — bit-exact) + the ``D`` suffix for finite values; CAST
    strings for NaN/±inf, which ``repr`` would render as the unparseable
    ``nanD``/``infD`` (r13 review — a NaN component in a degenerate fit
    sample must produce a degenerate assignment, not a ParseException)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _centroid_matrix(centroids: list[list[float]]) -> Column:
    """nlist × dim literal matrix column — built as ONE parsed SQL
    expression instead of nlist×dim ``F.lit`` calls: each ``F.lit`` is a
    py4j round-trip (~0.13 ms), so the element-wise form costs ~33 s of
    DRIVER plan-build time at nlist=4000, dim=64 vs ~0.6 s for the parsed
    string (measured r13). Values are ``repr``-formatted (shortest
    round-trip — bit-exact) with the ``D`` double suffix, so the literal
    tree is identical to the element-wise form's."""
    sql = "array(" + ",".join(
        "array(" + ",".join(_sql_double(x) for x in c) + ")"
        for c in centroids
    ) + ")"
    return F.expr(sql)


def _centroid_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of <vec, centroid_j> — ONE nested HOF over the literal matrix
    (a flat expression with nlist separate dot subtrees would blow past the
    codegen method limit for large nlist)."""
    return F.transform(_centroid_matrix(centroids), lambda c: dot(vec, c))


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """0-based nearest-centroid id by max dot product (centroids are unit
    vectors, so argmax dot == argmax cosine for any input scale; ties take
    the first index — deterministic)."""
    scores = _centroid_scores(vec, centroids)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def checked_vec(vec: Column, dim: int, vec_name: str) -> Column:
    """``vec`` validated to be non-NULL with exactly ``dim`` components —
    the sink-side guard (pq._with_subvecs' twin for the raw/int8 storage
    paths, r11 ADVICE): a NULL vector otherwise assigns a NULL cluster,
    the row lands under ``cluster=__HIVE_DEFAULT_PARTITION__``, and every
    later silver read dies on an undiagnosable int-parse error (or worse,
    skips rows). The message coalesces the NULL case so it stays
    diagnosable (concat null-propagates).

    Also refuses non-finite components (r13 review pass 2): a NaN vector
    otherwise assigns SILENTLY — Spark treats NaN as greatest and
    NaN = NaN, so ``array_position(scores, array_max(scores))`` lands on
    cluster 0 — poisoning the partitioned silver just as insidiously as
    a NULL.

    :func:`assign_clusters` binds it for every corpus assignment. Other
    callers must BIND the result in its own projection before handing it
    to ``ivf_assign`` (the ``__n`` idiom): inside the assign's per-
    centroid transform lambda the guard would re-evaluate once per
    centroid (nlist× per row — the HOF no-CSE trap this repo keeps
    re-measuring; r12 review)."""
    # isnull in the predicate (r13 ADVICE): exists() returns NULL when an
    # element is NULL and nothing matched, which fell through both when()
    # branches into the non-finite message — refusal was loud but the
    # diagnosis misstated the cause. Flagging NULL elements explicitly
    # keeps exists() three-valued-logic-free AND the message honest.
    nonfinite = F.exists(
        vec,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    return (
        F.when((F.size(vec) == dim) & ~nonfinite, vec)
        .when(
            vec.isNull() | (F.size(vec) != dim),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"IVF quantizer expects dim={dim} but '{vec_name}' "
                        "has length "
                    ),
                    F.coalesce(
                        F.size(vec).cast("string"),
                        F.lit("NULL (the vector itself is NULL)"),
                    ),
                )
            ),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    f"IVF quantizer refuses '{vec_name}': vector contains "
                    "non-finite (NaN/inf) or NULL components"
                )
            )
        )
    )


def _unit(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    # norm materialized into a column FIRST: a transform lambda referencing
    # the norm fold inline would re-run the O(dim) fold once per element
    # (the HOF no-CSE trap) — O(dim²) per row
    return df.withColumn("__n", norm(F.col(vec_col))).withColumn(
        out_col,
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("__n")
        ),
    )


# The E[cluster] ≈ 250 sizing posture (codified r16, VERDICT r15 #2 —
# one definition instead of BASELINE prose + per-caller copies of
# `max(8, n // 250)`). Why 250: the dense stages are Σ_c |cluster_c|²
# (within-cluster pair scoring) and O(per-row assignment cost · nlist)
# — a few hundred rows per list keeps pair cells matmul-sized while the
# two-level transport keeps assignment O(√nlist). Both ends of the dial
# are MEASURED failures, not taste: undershoot leaves mega-clusters
# whose pair stage is quadratic (r12: top cluster 34× the median carried
# 66% of 813M pairs at 500k docs); overshoot buys nothing after clusters
# are already matmul-sized and pays the file-count/shuffle floor — the
# r15 5M-row probe's refit to nlist=16384 at a 3M silver cut candidate
# volume 4× yet DOUBLED the next batch wall (BASELINE.md r15).
_TARGET_CLUSTER_ROWS = 250


def suggest_nlist(
    n_rows: int,
    target_cluster_rows: int = _TARGET_CLUSTER_ROWS,
    floor: int = 8,
) -> int:
    """The quantizer granularity the E[cluster] ≈ ``target_cluster_rows``
    posture prescribes for an ``n_rows`` corpus: ``n_rows //
    target_cluster_rows``, floored (k-means below ~8 lists is just a
    partition, and the fit sample's 8-per-centroid rule needs somewhere
    to stand). Callers that size nlist themselves should stay within
    ~4× of this or expect the measured overshoot wall (see
    ``_TARGET_CLUSTER_ROWS`` above)."""
    if target_cluster_rows <= 0:
        raise ValueError(
            f"target_cluster_rows must be positive, got {target_cluster_rows}"
        )
    return max(floor, int(n_rows) // int(target_cluster_rows))


def ivf_fit(
    vectors: DataFrame,
    dim: int,
    nlist: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    driver_fit_rows: int | None = None,
    n_rows: int | None = None,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer. Returns unit centroids (driver
    list, bounded by nlist). Seeds = the ``nlist`` vectors with the
    smallest md5(id) — pseudo-random but fully deterministic. Empty
    clusters keep their previous centroid.

    ``driver_fit_rows=N`` switches to the fit-on-bounded-sample fast path
    (the FAISS-style training contract): one count + one bounded collect
    (the threshold-filtered top-n — see ``_md5_smallest``) pull the N
    md5-smallest unit vectors (N is a hyperparameter — driver memory is
    N×dim doubles, never data-sized) and Lloyd's runs in numpy on the
    driver, replacing the per-iteration assignment+groupBy jobs whose
    scheduling floor dominates fit time on small/medium corpora. Seeding
    is the same md5 order, so seeds match the distributed path exactly;
    iterations follow the same argmax-first tie-break and empty-cluster
    rule. At 100 TB this is the intended quantizer-training shape — the
    corpus-sized work (assignment) stays distributed either way.

    ``n_rows``: the caller's already-known row count of ``vectors`` —
    saves the sample path's own count scan (a caller that just sized
    nlist from a count would otherwise scan the corpus twice, r15
    review). Ignored under ``sample_fraction`` (the sampled frame's
    count differs from the input's)."""
    train = vectors
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=42)
        n_rows = None
    train = _unit(train, vec_col, "__u").select(
        F.col(id_col).alias("__id"), "__u"
    )

    if driver_fit_rows is not None:
        x = _collect_unit_sample(
            train, max(driver_fit_rows, nlist), total=n_rows
        )
        return _numpy_lloyds(x, nlist, iters)

    train = materialize(train)  # consumed once per iteration

    seed_rows = _md5_smallest(train, nlist)
    # NB: Row.__getattr__ refuses dunder-prefixed names — index access only
    centroids = [[float(x) for x in r["__u"]] for r in seed_rows]

    def _renorm(v: list[float]) -> list[float]:
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v] if n > 0 else v

    for _ in range(iters):
        assigned = train.withColumn(
            "__c", ivf_assign(F.col("__u"), centroids)
        )
        # one shuffle on nlist keys, map-side partial means; dim avg
        # aggregates keep everything in whole-stage codegen
        means = assigned.groupBy("__c").agg(
            *[
                F.avg(F.element_at(F.col("__u"), i + 1)).alias(f"m{i}")
                for i in range(dim)
            ]
        ).collect()
        new = list(centroids)
        for r in means:
            new[r["__c"]] = _renorm([r[f"m{i}"] for i in range(dim)])
        centroids = new
    return centroids


def _md5_smallest(train: DataFrame, n: int, total: int | None = None) -> list:
    """The ``n`` md5(id)-smallest ``__u`` rows of a prepped ``(__id, __u)``
    frame — the fit paths' shared deterministic sample.

    NOT a bare ``orderBy(k).limit(n).collect()``: that plan is
    ``TakeOrderedAndProject``, which ships the top-``n`` of EVERY
    partition to the driver — at n=80k over a 5M-row corpus that is
    partitions×n rows (~1 GB) and kills the job on
    ``spark.driver.maxResultSize`` (measured r13, ``git show
    8f7ca59:scripts/ivf_assign_probe.py``).
    Instead: md5 is uniform over hex strings, so the n smallest keys of
    N rows all sit below the ``4n/N`` quantile with overwhelming odds —
    pre-filter to that threshold (scan-side, no shuffle), leaving ~4n
    candidate rows globally, THEN top-n. Driver transfer is bounded by
    the candidate count, not partitions×n. Exactness is guarded, not
    assumed: if fewer than n rows survive the filter (md5 says this is
    ~impossible at 4×, but the guard makes it a slow path instead of a
    wrong answer), fall back to the unfiltered plan."""
    k = F.md5(F.col("__id").cast("string"))
    if total is None:
        total = train.count()
    if total > 4 * n:
        frac = (4.0 * n) / total
        # 8-hex-digit prefix threshold; +1 so tiny fractions never round
        # to an empty filter
        bound = min(int(frac * 16**8) + 1, 16**8 - 1)
        cand = train.filter(k < F.lit(format(bound, "08x")))
        rows = cand.orderBy(k).limit(n).select("__u").collect()
        if len(rows) >= min(n, total):
            return rows
    return train.orderBy(k).limit(n).select("__u").collect()


def _collect_unit_sample(train: DataFrame, n: int, total: int | None = None):
    """ONE bounded collect job: the ``n`` md5-smallest unit vectors of a
    prepped ``(__id, __u)`` frame as an (n, dim) float64 matrix — driver
    memory is n×dim doubles, a hyperparameter, never data-sized. The
    md5 order matches the distributed fit path's seeding exactly.
    ``total``: the caller's known row count, saving the sample's own
    count scan."""
    import numpy as np

    return np.array(
        [r["__u"] for r in _md5_smallest(train, n, total=total)],
        dtype=np.float64,
    )


def _numpy_lloyds(x, nlist: int, iters: int) -> list[list[float]]:
    """Driver-side spherical Lloyd's over a bounded sample — same seeding
    (first nlist md5-ordered rows), argmax-first tie-break, and
    empty-cluster rule as the distributed path.

    The member-mean update is a vectorized scatter-add (np.add.at +
    bincount), not a per-cluster mask loop: the loop scans the whole
    sample once PER CLUSTER — O(nlist·N) python — which at the SemDeDup
    production granularity (nlist = 20000, N = 80000 sample) measured
    ~50 s/iteration (r13: a 111 s fit at 5M rows). Scatter-add is one pass;
    summation is per-row in index order — deterministic, same fit in →
    same centroids out."""
    import numpy as np

    cents = x[:nlist].copy()
    for _ in range(iters):
        # first-max, as argmax dot — row-chunked (r14): the full score
        # matrix is N×nlist float64, which at the scale-1000 fit
        # (153k sample × 19k lists) is ~23 GB of driver transient; the
        # block keeps it ≤ ~2.5 GB. Every fit at or below 16384 sample
        # rows (all registry/test fits) takes the identical single-GEMM
        # path, so their centroids stay bit-for-bit unchanged.
        assign = _chunked_argmax(x, cents)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, x)
        counts = np.bincount(assign, minlength=len(cents))
        nonempty = counts > 0  # empty cluster keeps previous centroid
        m = sums[nonempty] / counts[nonempty, None]
        norms = np.linalg.norm(m, axis=1)
        safe = np.where(norms > 0, norms, 1.0)
        cents[nonempty] = np.where((norms > 0)[:, None], m / safe[:, None], m)
    return [[float(v) for v in c] for c in cents]


_FIT_BLOCK_ROWS = 16384


def _chunked_argmax(x, cents):
    """argmax(x @ cents.T, axis=1) in ``_FIT_BLOCK_ROWS`` row blocks —
    bounded transient memory; a single GEMM (the historical path, so
    bit-identical results) whenever the sample fits in one block."""
    import numpy as np

    if len(x) <= _FIT_BLOCK_ROWS:
        return (x @ cents.T).argmax(axis=1)
    out = np.empty(len(x), dtype=np.int64)
    for lo in range(0, len(x), _FIT_BLOCK_ROWS):
        hi = min(lo + _FIT_BLOCK_ROWS, len(x))
        out[lo:hi] = (x[lo:hi] @ cents.T).argmax(axis=1)
    return out


def _diagnostics_from_sample(x, centroids: list[list[float]]) -> dict[str, float]:
    """Quantizer-quality gauge from an already-collected (n, dim) unit
    sample — shared by :func:`ivf_fit_diagnostics` (standalone) and
    :func:`ivf_fit_with_diagnostics` (reuses the fit sample, no second
    collect job — r8 VERDICT #3)."""
    import numpy as np

    if len(centroids) < 2:
        raise ValueError(
            "ivf_fit_diagnostics needs nlist >= 2 centroids: mean_margin "
            "is top1 - top2 centroid cosine, undefined for a single list "
            f"(got {len(centroids)})"
        )
    if len(x) == 0:
        raise ValueError(
            "ivf_fit_diagnostics got an empty sample — the corpus has no "
            "rows (or sample_rows == 0); the gauge would be NaN"
        )
    c = np.array(centroids, dtype=np.float64)
    # row-chunked like _chunked_argmax (r14): the full (n, nlist) score
    # matrix plus its sort is 2× ~23 GB at the scale-1000 fit; per-block
    # top1/top2/argmax need only the block. Single-block inputs (all
    # registry/test fits) follow the historical math exactly.
    n = len(x)
    top1 = np.empty(n)
    top2 = np.empty(n)
    assign = np.empty(n, dtype=np.int64)
    for lo in range(0, n, _FIT_BLOCK_ROWS):
        hi = min(lo + _FIT_BLOCK_ROWS, n)
        scores = x[lo:hi] @ c.T  # (block, nlist) cosines (both unit)
        order = np.sort(scores, axis=1)
        top1[lo:hi], top2[lo:hi] = order[:, -1], order[:, -2]
        assign[lo:hi] = scores.argmax(axis=1)
    share = np.bincount(assign, minlength=len(c)) / len(x)
    return {
        "mean_top1": float(top1.mean()),
        "mean_margin": float((top1 - top2).mean()),
        "mass_imbalance": float(share.max() * len(c)),
    }


def quantizer_regime(
    diagnostics: dict[str, float], nlist: int, dim: int
) -> str:
    """The validated decision rule (tests/test_ivf_ann.py) as a named
    predicate: ``mean_top1 < max(0.5, 2·sqrt(2·ln(nlist)/dim))`` ⇒
    ``"isotropic"`` — the corpus has no usable coarse-cluster structure at
    this nlist (best of nlist random directions only reaches
    ≈ sqrt(2·ln(nlist)/dim), the extreme-value bound) and nprobe < nlist
    recall silently decays; otherwise ``"clustered"``. Callers on the
    isotropic side should fall back to exact ``cosine_topk`` or hyperplane
    LSH, or raise nprobe toward nlist and re-measure recall."""
    import math

    floor = max(0.5, 2.0 * math.sqrt(2.0 * math.log(nlist) / dim))
    return "isotropic" if diagnostics["mean_top1"] < floor else "clustered"


def ivf_fit_with_diagnostics(
    vectors: DataFrame,
    dim: int,
    nlist: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    driver_fit_rows: int = 2048,
    n_rows: int | None = None,
) -> tuple[list[list[float]], dict[str, float]]:
    """The production fit entry: bounded-sample numpy fit AND the
    quantizer-quality gauge from the SAME collect job (one Spark job
    total — the standalone ``ivf_fit`` + ``ivf_fit_diagnostics`` pair
    would collect the md5-sample twice). Returns ``(centroids,
    diagnostics)``; feed both to :func:`write_assigned_corpus` so the
    silver carries its own fit-quality metadata. ``n_rows``: the
    caller's already-known row count — saves the sample's own count
    scan (the ivf_fit contract); ignored under ``sample_fraction``."""
    train = vectors
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=42)
        n_rows = None
    train = _unit(train, vec_col, "__u").select(
        F.col(id_col).alias("__id"), "__u"
    )
    x = _collect_unit_sample(train, max(driver_fit_rows, nlist), total=n_rows)
    centroids = _numpy_lloyds(x, nlist, iters)
    return centroids, _diagnostics_from_sample(x, centroids)


def ivf_fit_diagnostics(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 2000,
) -> dict[str, float]:
    """Cheap quantizer-quality gauge from the SAME bounded md5-sample
    contract as ``driver_fit_rows`` (one collect job, driver memory
    sample_rows×dim — never data-sized). Returns:

    - ``mean_top1``: mean cosine to the assigned (nearest) centroid —
      within-list coherence, the signal that separates the regimes. On
      clustered embeddings (the workload IVF exists for) members hug
      their centroid; on isotropic/unstructured vectors the best of
      nlist random directions only reaches ≈ sqrt(2·ln(nlist)/dim)
      (extreme-value bound — 0.31 measured at nlist=8, dim=32), nprobe
      lists stop covering the true neighbors, and recall silently decays
      (COVERAGE.md measured ~0.62 at the same budget);
    - ``mean_margin``: mean (top1 − top2) centroid cosine — how DECIDED
      assignments are (supporting gauge, same direction);
    - ``mass_imbalance``: max cluster share ÷ the uniform share (1.0 =
      perfectly balanced; ≫1 = a mega-list that defeats pruning).

    **Decision rule (validated in tests/test_ivf_ann.py):**
    ``mean_top1 < max(0.5, 2·sqrt(2·ln(nlist)/dim))`` ⇒ the corpus has no
    usable coarse-cluster structure at this nlist — fall back to exact
    ``cosine_topk`` or hyperplane LSH (data-oblivious buckets cost the
    same everywhere), or raise nprobe toward nlist and re-measure recall.
    Measured regimes at nlist=8, dim=32: clustered 0.82 / margin 0.47 vs
    isotropic 0.31 / margin 0.14. Guards (r8 ADVICE): raises ValueError on
    nlist < 2 (mean_margin undefined) and on an empty sample (NaN gauge).

    Prefer :func:`ivf_fit_with_diagnostics` when fitting anyway — it
    reuses the fit's own sample instead of collecting a second one."""
    train = _unit(vectors, vec_col, "__u").select(
        F.col(id_col).alias("__id"), "__u"
    )
    x = _collect_unit_sample(train, sample_rows)
    return _diagnostics_from_sample(x, centroids)


# nlist at/above which write_assigned_corpus shuffles on the cluster id
# before its partitioned write: an unshuffled partitionBy write emits
# ~tasks×nlist files, the shuffled one ≤ nlist; below it the shuffle
# only costs parallelism
_CLUSTER_SHUFFLE_MIN_NLIST = 64
# the silver's stamp: quantizer identity and the written frame's schema
_CENTROID_META = "_centroid_meta.json"


def centroid_fingerprint(centroids: list[list[float]]) -> str:
    """Deterministic identity of a centroid matrix: md5 over the JSON
    rendering of the float values. Two quantizers that assign even one
    vector differently have different matrices, hence different
    fingerprints; the same fitted matrix always reproduces the same
    digest (json float repr is deterministic)."""
    import hashlib

    payload = json.dumps(
        [[float(x) for x in row] for row in centroids]
    ).encode("utf-8")
    return hashlib.md5(payload).hexdigest()


def _quantizer_identity(centroids: list[list[float]]) -> dict:
    return {
        "fingerprint": centroid_fingerprint(centroids),
        "nlist": len(centroids),
        "dim": len(centroids[0]),
    }


def _write_silver_stamp(
    written: DataFrame, silver_dir: str, centroids: list[list[float]]
) -> None:
    """Stamp a silver just written from ``written`` (call it AFTER the
    overwrite, which wipes the directory) with the quantizer's identity
    and the frame's schema: :func:`read_silver` checks the one and reads
    with the other, so no probe infers a schema."""
    _hadoop_write_text(
        written.sparkSession,
        f"{silver_dir}/{_CENTROID_META}",
        json.dumps(
            dict(_quantizer_identity(centroids), schema=written.schema.json())
        ),
    )


def check_centroid_meta(
    spark, silver_dir: str, centroids: list[list[float]]
) -> dict:
    """The silver's stamp, checked against ``centroids``. The centroid
    matrix is part of the silver's identity: a probe whose centroids
    differ from the ones the silver was assigned under picks lists whose
    ids mean something else, and pruned-probe (nprobe < nlist) recall
    collapses with no error anywhere. Raises ValueError on a mismatch."""
    stamp = json.loads(
        _hadoop_read_text(spark, f"{silver_dir}/{_CENTROID_META}")
    )
    want = _quantizer_identity(centroids)
    got = {k: stamp.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"IVF silver at {silver_dir} was built with a different "
            f"quantizer (stored {got}, probe has {want}): its lists mean "
            "something else under these centroids — probe with the "
            "silver's own centroids, or rebuild the silver"
        )
    return stamp


def read_silver(
    spark,
    silver_dir: str,
    centroids: list[list[float]],
    clusters=None,
) -> DataFrame:
    """A :func:`write_assigned_corpus` or ``pq.write_pq_corpus`` silver
    as a DataFrame, after :func:`check_centroid_meta` has checked
    ``centroids`` against its stamp. One ``listStatus`` of the root gives
    the ``cluster=`` directories and the stamp, and the stamp gives the
    schema, so the read starts no schema-inference job.

    ``clusters`` restricts the read to those lists' directories: static
    partition pruning, the scan's file index names only them. A list
    with no directory (no rows were filed under it) reads as empty. A
    silver without a stamp that carries its schema is refused."""
    fs, root = _fs_and_path(spark, silver_dir)
    dirs: dict[int, str] = {}
    stamped = False
    for st in fs.listStatus(root) if fs.exists(root) else ():
        name = st.getPath().getName()
        if name == _CENTROID_META:
            stamped = True
        elif st.isDirectory() and name.startswith("cluster="):
            dirs[_partition_value_int(name, st.getPath())] = (
                st.getPath().toString()
            )
    stamp = check_centroid_meta(spark, silver_dir, centroids) if stamped else {}
    if "schema" not in stamp:
        raise ValueError(
            f"IVF silver at {silver_dir} has no {_CENTROID_META} stamp "
            "with its schema (it was not written by write_assigned_corpus "
            "or write_pq_corpus, or predates schema stamps) — rebuild it "
            "with one of them"
        )
    picked = sorted(dirs if clusters is None else set(clusters) & set(dirs))
    return (
        spark.read.schema(StructType.fromJson(json.loads(stamp["schema"])))
        .option("basePath", silver_dir)
        .parquet(*[dirs[c] for c in picked])
    )


def write_assigned_corpus(
    vectors: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
    diagnostics: dict[str, float] | None = None,
    require_clustered: bool = False,
    two_level: "TwoLevelQuantizer | None" = None,
) -> None:
    """The 100 TB silver layout: assign every vector to its list ONCE (a
    pure projection — no join) and write partitioned BY the cluster id.
    Probe-time reads then touch only the probed lists' directories (static
    partition pruning, :func:`ivf_topk_assigned`) instead of scanning the
    corpus. The stamp (:func:`_write_silver_stamp`) lands next to the
    data.

    ``quantize=True`` stores int8 codes + qscale instead of the float
    vector (similarity.quantize_embeddings): a 4x smaller silver table,
    read back with ``ivf_topk_assigned(..., quantized=True)``. Assignment
    still uses the full-precision vector — only storage is quantized.

    ``diagnostics`` (from :func:`ivf_fit_with_diagnostics` /
    :func:`ivf_fit_diagnostics`) is persisted NEXT TO the data as
    ``_quantizer_diagnostics.json`` (the ``_``-prefix keeps parquet
    readers away, like ``_SUCCESS``; written through the Hadoop FS layer
    so s3a://-style silver works) together with nlist/dim and the
    :func:`quantizer_regime` verdict — a bad fit can't silently ship a
    useless index, the reader of the silver sees the gauge (r8 VERDICT
    #4). ``require_clustered=True`` turns the rule into a hard gate:
    raises ValueError instead of writing an index whose nprobe-recall
    would silently decay (callers probing every list — nprobe == nlist,
    e.g. the q54 exactness role — keep it off: the regime doesn't affect
    exact results, only pruned-probe recall)."""
    metadata = None
    if diagnostics is not None:
        nlist, dim = len(centroids), len(centroids[0])
        regime = quantizer_regime(diagnostics, nlist, dim)
        if require_clustered and regime == "isotropic":
            raise ValueError(
                "quantizer regime is 'isotropic' "
                f"(mean_top1={diagnostics['mean_top1']:.3f} at nlist={nlist}, "
                f"dim={dim}): the corpus has no usable coarse-cluster "
                "structure — fall back to exact cosine_topk or hyperplane "
                "LSH, or raise nprobe toward nlist (operators/ivf.py "
                "decision rule); refusing to ship the index"
            )
        metadata = dict(diagnostics, nlist=nlist, dim=dim, regime=regime)
    # two_level swaps the O(nlist)-dots-per-row flat assignment for the
    # O(√nlist) probe-then-score shape (VERDICT r12 #1). assign_clusters
    # refuses a quantizer over other leaves (the stamped identity would
    # certify assignments made under a different leaf set) and binds
    # checked_vec at the PARTITION-KEY source: a NULL assignment would
    # land rows under cluster=__HIVE_DEFAULT_PARTITION__ and poison every
    # later silver read (r11 ADVICE; the PQ path gets the same check from
    # pq._with_subvecs)
    assigned = assign_clusters(
        vectors, vec_col, centroids, two_level=two_level
    )
    if quantize:
        from crossbar_data_process_spark.operators.similarity import (
            quantize_embeddings,
        )

        assigned = quantize_embeddings(assigned, vec_col=vec_col)
    if len(centroids) >= _CLUSTER_SHUFFLE_MIN_NLIST:
        # co-locate each cluster in ONE write task (r14): an unshuffled
        # partitionBy write emits ~tasks×nlist files — the file-count
        # wall; one corpus-sized shuffle caps it at ≤nlist
        assigned = assigned.repartition(F.col("cluster"))
    # static per-write (writers.py:144 convention): a session-level
    # dynamic overwrite would leave stale cluster partitions from a prior
    # assignment alive under the fresh centroid stamp
    assigned.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("cluster").parquet(path)
    _write_silver_stamp(assigned, path, centroids)
    if metadata is not None:
        # after the parquet overwrite — mode("overwrite") wipes the dir
        _hadoop_write_text(
            vectors.sparkSession,
            f"{path}/_quantizer_diagnostics.json",
            json.dumps(metadata, sort_keys=True),
        )


def ivf_topk_assigned(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
) -> DataFrame:
    """IVF top-k over a pre-assigned, cluster-partitioned corpus (see
    :func:`write_assigned_corpus`). The probe lists are chosen on the
    DRIVER: the queries are the small, driver-sized side (they were the
    broadcast side of the old probe join), so they are collected, and
    :func:`_driver_probe_lists` picks each query's ``nprobe`` lists with
    :func:`_probe_list`'s exact arithmetic. The silver read then names
    only the probed lists' directories — static partition pruning, no
    runtime filter (pinned in tests/test_ivf_ann.py by the scan's file
    index) — so the I/O is ≈ nprobe/nlist of the corpus, and the plan
    carries no nlist×dim centroid literal and no broadcast join: each
    corpus row meets the queries probing its list through ONE parsed
    literal (:func:`_probing_queries`).

    Query vectors must be non-NULL arrays of ``dim`` non-NULL numbers
    (NaN/inf components pick lists exactly as ``_probe_list`` would);
    anything else raises ValueError instead of probing arbitrary lists.

    ``quantized=True`` reads an int8 silver layout (4x less probe I/O) and
    ranks against the raw codes — cosine is scale-invariant, so qscale
    never enters the hot path; only quantization rounding costs recall.

    The read goes through :func:`read_silver`, which refuses a silver
    stamped under other centroids."""
    q = queries.select(id_col, vec_col)
    rows = q.collect()
    probes = _driver_probe_lists([r[1] for r in rows], centroids, nprobe)
    corpus = read_silver(
        spark, path, centroids, clusters={c for p in probes for c in p}
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec" if quantized else vec_col).alias("cv"),
        F.col("cluster").cast("int").alias("cluster"),
    )
    matches = _probing_queries(
        [r[0] for r in rows], [r[1] for r in rows], probes,
        q.schema[id_col].dataType,
    )
    scored = (
        corpus.select("neighbor_id", "cv", F.explode(matches).alias("q"))
        .filter(F.col("neighbor_id") != F.col("q.query_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            "neighbor_id",
            cosine(F.col("q.qv"), F.col("cv")).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k,
        rank_col="rnk",
    )


def _probing_queries(ids, vecs, probes, id_type) -> Column:
    """Per corpus row, the array of (query_id, qv) structs whose probe
    list holds the row's ``cluster``, from two literals: for each list id
    the indices of the queries probing it, and the queries themselves
    (ids in the id column's type, vectors as doubles). Each is ONE JSON
    string that ``from_json`` parses once, when the optimizer folds it:
    the same values as SQL literals would be analysed node by node — 5 s
    for 1000 × 64 queries. ``repr``-exact floats and NaN/±Infinity
    round-trip through JSON unchanged."""
    n_lists = 1 + max((c for p in probes for c in p), default=-1)
    by_list: list[list[int]] = [[] for _ in range(n_lists)]
    for qi, p in enumerate(probes):
        for c in p:
            by_list[c].append(qi)
    strict = {"mode": "FAILFAST"}
    lists = F.from_json(
        F.lit(json.dumps(by_list)), "array<array<int>>", strict
    )
    qlit = F.from_json(
        F.lit(json.dumps([{"query_id": i, "qv": v} for i, v in zip(ids, vecs)])),
        f"array<struct<query_id:{id_type.simpleString()},qv:array<double>>>",
        strict,
    )
    return F.transform(F.get(lists, F.col("cluster")), lambda qi: qlit[qi])


class TwoLevelQuantizer:
    """Two-level coarse quantizer (VERDICT r12 #1) — the assignment-cost
    fix that lets IVF-backed semantic dedup and the ANN silvers survive
    past ~10M rows.

    The measured wall: flat ``ivf_assign`` is a literal-matrix expression
    costing O(nlist) dot products PER ROW, and SemDeDup wants
    nlist ≈ n/250 (constant expected cluster size), so corpus assignment
    is O(n·nlist) = O(n^1.5) overall — a 500k-document corpus build died on
    /tmp spill before the cluster-size policy landed (BASELINE r12 memory
    traps). The standard fix (FAISS's IMI/two-level shape): cluster the
    nlist leaf centroids themselves into ntop ≈ √nlist top-level groups
    (driver-side numpy — the input is the centroid list, already driver-
    resident and hyperparameter-sized), then assign each row by scoring
    the ntop top-level centroids, keeping the ``assign_probes`` best
    groups, and scoring ONLY their member leaves:
    O(√nlist·(1 + assign_probes)) dots per row instead of O(nlist) —
    O(n·√nlist) overall, and nlist's literal matrix leaves the per-row
    hot path (:meth:`assign_frame` joins the probed groups' leaves in).

    Exactness: with ``assign_probes == ntop`` every leaf is a candidate
    and the assignment (including the min-id tie-break) equals flat
    ``ivf_assign`` bit-for-bit (pinned in tests/test_ivf_ann.py). With
    fewer probes a row whose true nearest leaf sits in an unprobed group
    lands in its probed-best leaf instead — for SemDeDup this is nearly
    free recall-wise, because near-dup PAIRS have near-identical vectors
    and therefore take the same probe path to the SAME cluster; measured
    agreement/recall is pinned in tests/test_ivf_ann.py and
    tests/test_semantic_dedup.py.

    Determinism: the top-level fit seeds from the md5-order of leaf
    indices (the ``ivf_fit`` seeding family), Lloyd's runs the same
    argmax-first/empty-keeps-previous rules, and empty groups are dropped
    after ownership assignment — same centroids in → same quantizer out,
    bit-for-bit, across sessions.
    """

    def __init__(
        self,
        centroids: list[list[float]],
        top: list[list[float]],
        groups: list[list[int]],
        assign_probes: int = 2,
    ) -> None:
        if len(groups) != len(top):
            raise ValueError(
                f"groups ({len(groups)}) and top centroids ({len(top)}) "
                "must align 1:1"
            )
        owned = sorted(j for g in groups for j in g)
        if owned != list(range(len(centroids))):
            raise ValueError(
                "groups must partition the leaf ids 0..nlist-1 exactly "
                f"(got {len(owned)} memberships over {len(centroids)} leaves)"
            )
        if not 1 <= assign_probes:
            raise ValueError(f"assign_probes must be >= 1, got {assign_probes}")
        self.centroids = centroids
        self.top = top
        self.groups = groups
        self.assign_probes = min(assign_probes, len(top))

    def assign_frame(
        self, df: DataFrame, vec_col: str, out_col: str = "cluster"
    ) -> DataFrame:
        """Two-level assignment as a BROADCAST-JOIN plan, the one way the
        quantizer assigns (``assign_clusters`` routes every two-level
        consumer here). The leaf centroids ride a broadcast TABLE of ntop
        rows (one array<struct<j,c>> per group) instead of living in the
        expression tree, so the plan stays O(ntop + assign_probes) nodes
        no matter how large nlist grows. A literal leaf matrix would pay
        minutes of driver plan-build + analyzer constant-folding over
        nlist×dim literal nodes PER ACTION at nlist ≳ a few thousand
        (measured r13: ~33 s build + ~20 s fold at nlist=4000, dim=64);
        the broadcast ships the same bytes as DATA.

        Mechanics: the per-row probe list (top-matrix literal — ntop×dim,
        small by construction) explodes into ``assign_probes`` join-key
        columns; each probes the leaf table through its own broadcast
        hash join (scan-side, no shuffle); the concatenated candidate
        arrays score through one transform and the (−score, id) struct
        min picks the leaf — flat ``ivf_assign`` tie-break exactly."""
        spark = df.sparkSession
        leaves = [
            [(j, [float(x) for x in self.centroids[j]]) for j in grp]
            for grp in self.groups
        ]
        leaf_tbl = local_frame(
            spark,
            [range(len(leaves)), leaves],
            "g int, leaves array<struct<j: int, c: array<double>>>",
        )
        w = self.assign_probes
        out = df.withColumn(
            "__probe", _probe_list(F.col(vec_col), self.top, w)
        )
        for p in range(w):
            lt = leaf_tbl.select(
                F.col("g").alias(f"__g{p}"), F.col("leaves").alias(f"__lv{p}")
            )
            out = out.withColumn(
                f"__g{p}", F.element_at("__probe", p + 1)
            ).join(F.broadcast(lt), f"__g{p}")
        cand = (
            F.concat(*[F.col(f"__lv{p}") for p in range(w)])
            if w > 1
            else F.col("__lv0")
        )
        # bind the candidate array in its own projection (HOF no-CSE rule)
        out = out.withColumn("__cand", cand)
        scored = F.transform(
            F.col("__cand"),
            lambda s: F.struct(
                (-dot(F.col(vec_col), s["c"])).alias("s"), s["j"].alias("j")
            ),
        )
        out = out.withColumn(out_col, F.array_min(scored)["j"].cast("int"))
        return out.drop(
            "__probe", "__cand", *[c for p in range(w) for c in (f"__g{p}", f"__lv{p}")]
        )


def fit_two_level(
    centroids: list[list[float]],
    ntop: int | None = None,
    iters: int = 5,
    assign_probes: int = 2,
) -> TwoLevelQuantizer:
    """Fit the top level over an already-fitted leaf quantizer: cluster
    the nlist (unit) leaf centroids into ``ntop`` groups with the same
    driver-side spherical Lloyd's as ``ivf_fit(driver_fit_rows=...)``.
    Default ntop = round(√nlist) — the cost-balanced choice (top scan and
    probed-group scan are then both ~√nlist dots per row). Groups that
    end up owning no leaves are dropped (probing them buys nothing).

    Driver cost is O(nlist·ntop·dim) numpy — nlist is a hyperparameter
    (≤65536 in practice), never data-sized; no Spark job runs here."""
    import hashlib

    import numpy as np

    nlist = len(centroids)
    if nlist == 0:
        raise ValueError("fit_two_level needs at least one leaf centroid")
    if ntop is None:
        ntop = max(1, int(round(nlist**0.5)))
    ntop = min(ntop, nlist)
    c = np.array(centroids, dtype=np.float64)
    # md5-order the leaf INDICES for seeding — the ivf_fit determinism
    # family: pseudo-random, fully reproducible, no RNG state
    order = sorted(
        range(nlist),
        key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
    )
    top = _numpy_lloyds(c[order], ntop, iters)
    t = np.array(top, dtype=np.float64)
    own = (c @ t.T).argmax(axis=1)  # first-max, as everywhere
    groups = [
        [j for j in range(nlist) if own[j] == g] for g in range(len(t))
    ]
    keep = [g for g in range(len(t)) if groups[g]]
    return TwoLevelQuantizer(
        centroids,
        [top[g] for g in keep],
        [groups[g] for g in keep],
        assign_probes=assign_probes,
    )


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "cluster",
    two_level: "TwoLevelQuantizer | None" = None,
) -> DataFrame:
    """THE corpus assignment: ``df`` plus ``out_col``, the 0-based list
    each ``vec_col`` vector is filed under. Every consumer —
    ``write_assigned_corpus``, ``neighbor_pairs_ivf`` and
    ``cluster_cap_stats`` — routes through it, so its guards cannot be
    dropped at any single call site:

    - a centroid with a NaN/inf component is refused with ValueError
      (centroids can come from ``load_centroids``; Spark orders NaN
      above every number, so one NaN component would pull rows into
      that list silently);
    - a ``two_level`` wrapping DIFFERENT leaves than ``centroids`` is
      refused (it would partition under an identity the stamps and
      stats lie about);
    - each vector passes :func:`checked_vec` (non-NULL, ``dim`` finite
      components), bound in its own projection — inside the assign's
      per-centroid transform lambda the guard would re-evaluate once per
      centroid (the HOF no-CSE trap) — and dropped after assignment.

    ``two_level`` assigns through its broadcast-join ``assign_frame``;
    otherwise the flat literal-matrix expression :func:`ivf_assign`."""
    import numpy as np

    if not np.isfinite(np.asarray(centroids, dtype=np.float64)).all():
        raise ValueError(
            "IVF assignment refuses centroids with non-finite components "
            "— refit the quantizer (a NaN centroid means the fit saw NaN "
            "vectors or an empty unit-normalization)"
        )
    if two_level is not None and two_level.centroids != centroids:
        raise ValueError(
            "two_level quantizer wraps different leaf centroids than the "
            "ones passed for assignment"
        )
    bound = df.withColumn(
        "__checked_vec",
        checked_vec(F.col(vec_col), len(centroids[0]), vec_col),
    )
    if two_level is not None:
        out = two_level.assign_frame(bound, "__checked_vec", out_col=out_col)
    else:
        out = bound.withColumn(
            out_col, ivf_assign(F.col("__checked_vec"), centroids)
        )
    return out.drop("__checked_vec")


def save_centroids(
    spark, centroids: list[list[float]], path: str
) -> None:
    """Persist the fitted quantizer as a 2-column parquet table
    (cluster_id int, centroid array<double>) — the 100 TB contract is fit
    ONCE on a sample, then assign forever: the centroids must outlive the
    session that trained them."""
    df = local_frame(
        spark,
        [range(len(centroids)), [[float(x) for x in c] for c in centroids]],
        "cluster_id int, centroid array<double>",
    )
    # nlist rows: one file is the right layout
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[list[float]]:
    """Inverse of :func:`save_centroids`; cluster ids order the list, so
    assignments from a reloaded quantizer are bit-identical to the fitting
    session's (pinned in tests/test_ivf_ann.py)."""
    rows = spark.read.parquet(path).orderBy("cluster_id").collect()
    if [r["cluster_id"] for r in rows] != list(range(len(rows))):
        raise ValueError("centroid table is not a dense 0..nlist-1 id range")
    return [[float(x) for x in r["centroid"]] for r in rows]


def _probe_list(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid ids (by score desc, id asc):
    sort (−score, id) structs ascending, slice, project the id."""
    scored = F.transform(
        _centroid_matrix(centroids),
        lambda c, i: F.struct((-dot(vec, c)).alias("s"), i.alias("j")),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["j"]
    )


def _driver_probe_lists(
    vecs: list, centroids: list[list[float]], nprobe: int
) -> list[list[int]]:
    """Driver twin of :func:`_probe_list`, one probe list per vector,
    equal to it element for element: each score is the same left-to-right
    double sum from 0.0 of component products (column-wise ``+=``, never
    a BLAS dot, whose blocked summation rounds differently), and lists
    are ordered by (−score, id) under Spark's double ordering — NaN above
    every number, −0.0 equal to 0.0. A NULL vector, a NULL component or
    a length other than the centroids' dim raises ValueError: in Spark
    those score NULL and probe arbitrary lists."""
    import numpy as np

    if nprobe < 0:
        raise ValueError(f"nprobe must be >= 0, got {nprobe}")
    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]
    for v in vecs:
        if v is None or len(v) != dim or any(x is None for x in v):
            raise ValueError(
                f"IVF probe expects query vectors of {dim} non-NULL "
                f"numbers, got "
                f"{'NULL' if v is None else f'{len(v)}: {v!r:.80}'}"
            )
    out: list[list[int]] = []
    # bounded driver memory: ≤ 2^22 scores per block of queries
    step = max(1, (1 << 22) // len(cents))
    for lo in range(0, len(vecs), step):
        qs = np.asarray(vecs[lo : lo + step], dtype=np.float64)
        scores = np.zeros((len(qs), len(cents)))
        with np.errstate(all="ignore"):  # inf/NaN are IEEE, as in Spark
            for d in range(dim):
                scores += qs[:, d, None] * cents[None, :, d]
        neg = -scores
        nan = np.isnan(neg)
        neg[nan] = 0.0
        ids = np.broadcast_to(np.arange(len(cents)), neg.shape)
        out += np.lexsort((ids, neg, nan), axis=-1)[:, :nprobe].tolist()
    return out


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    sample_fraction: float | None = None,
    driver_fit_rows: int | None = None,
    two_level: "TwoLevelQuantizer | None" = None,
) -> DataFrame:
    """IVF cosine top-k: train (or reuse) the coarse quantizer, bucket the
    corpus by nearest centroid (one linear pass), probe each query's
    ``nprobe`` nearest lists, score exactly inside them. ``two_level``
    (a :class:`TwoLevelQuantizer` over the same centroids) switches the
    CORPUS assignment to the O(√nlist)-per-row shape; query probing stays
    flat — queries are the small side.

    Scale shape: corpus assignment is a projection (no join); the candidate
    join is an equi-join on the int cluster id with the exploded probe list
    broadcast; exact cosine touches ≈ nprobe/nlist of the corpus. At scale
    the assigned corpus is a silver table partitioned by cluster id, making
    the probe join partition-pruned.
    """
    if centroids is None:
        centroids = ivf_fit(
            vectors, dim, nlist, iters, id_col, vec_col,
            sample_fraction, driver_fit_rows,
        )
    if two_level is not None and two_level.centroids != centroids:
        raise ValueError(
            "two_level quantizer wraps different leaf centroids than the "
            "probe list's — corpus lists and query probes would disagree"
        )
    pre = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    if two_level is not None:
        corpus = two_level.assign_frame(pre, "cv", out_col="__c")
    else:
        corpus = pre.withColumn("__c", ivf_assign(F.col("cv"), centroids))
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            _probe_list(F.col(vec_col), centroids, nprobe)
        ).alias("__c"),
    )
    scored = (
        corpus.join(F.broadcast(probes), "__c")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k,
        rank_col="rnk",
    )
